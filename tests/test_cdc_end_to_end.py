"""End-to-end CDC replay tests — the SIT golden-test analog
(/root/reference SIT/smoke/01_basic_kvp: migrate then validate, assert
final state + counters)."""

import dataclasses
import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.jobs import expected_state, ingest, validate
from cassandra_data_migrator_spark.lineage import LineageStore
from cassandra_data_migrator_spark.operators.diff import STATUS_COL
from cassandra_data_migrator_spark.sources import changelog as wal
from cassandra_data_migrator_spark.sources.lake import LakeTable

N_EVENTS = 4_000
EPOCH = 500


def make_cfg(tmp_path, **kw) -> EngineConfig:
    d = dict(
        lake_path=str(tmp_path / "lake"),
        lineage_path=str(tmp_path / "lineage"),
        epoch_size=EPOCH,
        num_partitions=8,
        num_buckets=8,
    )
    d.update(kw)
    return EngineConfig.from_dict(d)


@pytest.fixture(scope="module")
def events(spark):
    df = wal.changelog(
        spark, N_EVENTS, n_urls=300, epoch_size=EPOCH, num_partitions=8
    ).cache()
    df.count()
    return df


def test_changelog_deterministic(spark, events):
    again = wal.changelog(spark, N_EVENTS, n_urls=300, epoch_size=EPOCH, num_partitions=8)
    assert events.exceptAll(again).count() == 0
    assert again.exceptAll(events).count() == 0


def test_changelog_has_skew_and_evolution(spark, events):
    top = events.groupBy("url").count().orderBy(F.desc("count")).first()
    assert top["count"] > N_EVENTS / 300 * 5, "zipf head should be hot"
    # lang appears only in later epochs (additive evolution mid-stream)
    pre = events.where("batch_epoch < 4").where(F.col("lang").isNotNull()).count()
    post = events.where("batch_epoch >= 5").where(
        F.col("lang").isNotNull() & (F.col("op") != "D")
    ).count()
    assert pre == 0 and post > 0


@pytest.mark.parametrize("where", [None, "seq % 3 <> 0"], ids=["unfiltered", "where"])
def test_ingest_matches_expected_fold(spark, events, tmp_path, where):
    """With or without a WHERE condition the lake equals the verify
    fold; READ counts events before the origin filters."""
    cfg = make_cfg(tmp_path, where_condition=where)
    res = ingest(spark, cfg, changelog_df=events)
    assert res.counters.get("READ") == N_EVENTS
    lake = LakeTable(spark, cfg.lake_path)
    actual = lake.read()
    expected = expected_state(events, cfg)
    # final state must equal the one-shot LWW fold exactly
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0
    # winners whose final op is delete are gone
    assert actual.where(F.col("op") == "D").count() == 0


def test_lineage_watermark_is_epoch_max_seq(spark, events, tmp_path):
    """Each PASS lineage row carries its epoch's applied-offset
    watermark: the largest seq the epoch read."""
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    got = LineageStore(spark, cfg.lineage_path).details().where("status = 'PASS'")
    got = got.select("batch_epoch", "watermark_seq").distinct().collect()
    want = events.groupBy("batch_epoch").agg(F.max("seq")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_validate_green(spark, events, tmp_path):
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    d, jc = validate(spark, cfg, changelog_df=events)
    assert jc.get("MISSING") == 0
    assert jc.get("MISMATCH") == 0
    assert jc.get("VALID") > 0


def test_kill_and_resume_no_duplicates(spark, events, tmp_path, monkeypatch):
    cfg = make_cfg(tmp_path)
    commit_staged_delta = LakeTable.commit_staged_delta
    done = []

    def killed_after_three(self, staged, keys):
        if len(done) == 3:
            raise RuntimeError("killed after 3 epoch commits")
        done.append(commit_staged_delta(self, staged, keys))
        return done[-1]

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "commit_staged_delta", killed_after_three)
        with pytest.raises(RuntimeError, match="killed"):
            ingest(spark, cfg, changelog_df=events)
    lake = LakeTable(spark, cfg.lake_path)
    n_applied_before = len(lake.applied_keys())
    assert n_applied_before > 0

    # resume: must skip committed epochs, apply the rest, end in the same state
    res = ingest(spark, cfg, changelog_df=events)
    assert res.epochs_skipped, "resume should skip already-committed epochs"
    actual = LakeTable(spark, cfg.lake_path).read()
    expected = expected_state(events, cfg)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0
    # re-running a completed ingest is a no-op (idempotent commit keys)
    res2 = ingest(spark, cfg, changelog_df=events)
    assert not res2.epochs_applied


def _drifted_lake(spark, events, tmp_path):
    """Ingest, then rebuild the lake with one url's text tampered
    (MISMATCH) and another url deleted (MISSING); returns (cfg,
    tampered_url)."""
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    lake = LakeTable(spark, cfg.lake_path)
    # seed drift: tamper one row's text, delete another url entirely
    snapshot = lake.read()
    two = snapshot.orderBy("url").limit(2).collect()
    tampered_url, missing_url = two[0]["url"], two[1]["url"]
    drifted_rows = (
        snapshot.withColumn(
            "text",
            F.when(F.col("url") == tampered_url, F.lit("corrupted")).otherwise(F.col("text")),
        )
        .where(F.col("url") != missing_url)
        .collect()  # materialize before the source files are deleted
    )
    drifted_schema = snapshot.schema
    drifted = spark.createDataFrame(drifted_rows, drifted_schema)
    # rebuild a drifted lake
    import shutil

    shutil.rmtree(cfg.lake_path)
    lake2 = LakeTable.create(
        spark, cfg.lake_path, drifted.schema, num_buckets=cfg.num_buckets
    )
    lake2.merge_cow(drifted, ["seed"])
    return cfg, tampered_url


def test_validate_detects_and_corrects_drift(spark, events, tmp_path):
    cfg2, tampered_url = _drifted_lake(spark, events, tmp_path)
    d, jc = validate(spark, cfg2, changelog_df=events)
    assert jc.get("MISMATCH") == 1
    assert jc.get("MISSING") == 1
    assert (
        d.where(STATUS_COL + " = 'MISMATCH'").first()["url"] == tampered_url
    )

    # autocorrect heals; second validate is green
    fix_all = dataclasses.replace(cfg2, autocorrect_missing=True, autocorrect_mismatch=True)
    d2, jc2 = validate(spark, fix_all, changelog_df=events)
    assert jc2.get("CORRECTED_MISSING") >= 1
    d3, jc3 = validate(spark, cfg2, changelog_df=events)
    assert jc3.get("MISSING") == 0 and jc3.get("MISMATCH") == 0


def test_validate_corrects_only_the_flagged_status(spark, events, tmp_path):
    """autocorrect_missing alone heals the MISSING row and leaves the
    MISMATCH row; with a row left uncorrected the run's lineage status
    is DIFF, not DIFF_CORRECTED."""
    from cassandra_data_migrator_spark.lineage import LineageStore

    cfg, _ = _drifted_lake(spark, events, tmp_path)
    _, jc = validate(spark, dataclasses.replace(cfg, autocorrect_missing=True), changelog_df=events)
    assert jc.get("CORRECTED_MISSING") == 1 and jc.get("CORRECTED_MISMATCH") == 0
    _, jc2 = validate(spark, cfg, changelog_df=events)
    assert jc2.get("MISSING") == 0 and jc2.get("MISMATCH") == 1
    det = LineageStore(spark, cfg.lineage_path).details().where("batch_epoch = -1")
    assert [r["status"] for r in det.collect()] == ["DIFF", "DIFF"]


def test_schema_evolution_lang_null_before_epoch(spark, events, tmp_path):
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    actual = LakeTable(spark, cfg.lake_path).read()
    assert "lang" in actual.columns
    # urls whose winning event predates evolution have lang null
    pre = actual.where(F.col("lang").isNull()).count()
    post = actual.where(F.col("lang").isNotNull()).count()
    assert pre > 0 and post > 0


def test_rerun_partial_epoch_commits_pending_once(spark, events, tmp_path, monkeypatch):
    """A partially-applied epoch (a run that died mid-epoch) resumes by
    applying all of its pending partitions in one commit; every planned
    epoch makes exactly one delta commit."""
    from cassandra_data_migrator_spark.jobs import _ensure_lake
    from cassandra_data_migrator_spark.operators.lww import lww_dedup_skinny

    cfg = make_cfg(tmp_path)
    # simulate a run that died mid-epoch: partition 0 of epoch 0 applied
    lake = _ensure_lake(spark, cfg, events)
    first = events.where(
        (F.col("batch_epoch") == 0) & (F.col("partition") == 0)
    ).drop("partition", "batch_epoch")
    staged = lake.stage_delta(lww_dedup_skinny(first, "url", "warc_ts", "seq"))
    lake.commit_staged_delta(staged, ["0:0"])

    commits = []
    commit_staged_delta = LakeTable.commit_staged_delta

    def counted(self, staged, keys):
        commits.append(sorted(keys))
        return commit_staged_delta(self, staged, keys)

    monkeypatch.setattr(LakeTable, "commit_staged_delta", counted)
    res = ingest(spark, cfg, changelog_df=events)
    assert 0 in res.epochs_applied
    assert len(commits) == len(res.epochs_applied) == N_EVENTS // EPOCH
    assert [f"{p}:0" for p in range(1, 8)] in commits
    # every partition:epoch key applied exactly once; final state correct
    actual = LakeTable(spark, cfg.lake_path).read()
    expected = expected_state(events, cfg)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0
    # lineage shows epoch 0's pending partitions went in one commit
    from cassandra_data_migrator_spark.lineage import LineageStore

    det = LineageStore(spark, cfg.lineage_path).details()
    e0 = det.where((F.col("batch_epoch") == 0) & (F.col("status") == "PASS"))
    assert e0.count() == 7  # 8 partitions minus the pre-applied one
    assert e0.select("ts_unix").distinct().count() == 1


def test_unknown_lww_strategy_fails_before_lake_or_lineage(spark, events, tmp_path):
    """An unknown fold name is a caller error: ingest raises ValueError
    before it creates the lake or writes any lineage."""
    import os

    cfg = make_cfg(tmp_path)
    for strategy in ("salted", "max_by"):
        with pytest.raises(ValueError, match="lww_strategy"):
            ingest(spark, cfg, changelog_df=events, lww_strategy=strategy)
    assert not os.path.exists(cfg.lake_path)
    assert not os.path.exists(cfg.lineage_path)


def test_epoch_landing_during_planning_is_ingested(spark, events, tmp_path, monkeypatch):
    """An epoch dir that lands in the WAL while ingest plans is either
    planned with its files or left for the next run, never committed
    empty: two ingests of the WAL leave validate green."""
    import os

    from cassandra_data_migrator_spark import jobs

    walp, pending = tmp_path / "wal", tmp_path / "pending"
    wal.write_changelog(events, str(walp))
    late = sorted(walp.glob("batch_epoch=*"), key=lambda p: int(p.name.split("=")[1]))[-1]
    pending.mkdir()
    os.rename(late, pending / late.name)
    list_epochs = jobs._epochs_from_wal_dirs

    def land_then_list(path):
        if (pending / late.name).exists():
            os.rename(pending / late.name, late)
        return list_epochs(path)

    monkeypatch.setattr(jobs, "_epochs_from_wal_dirs", land_then_list)
    cfg = make_cfg(tmp_path, changelog_path=str(walp))
    ingest(spark, cfg)
    ingest(spark, cfg)
    _, jc = validate(spark, cfg)
    assert jc.get("MISSING") == 0
    assert jc.get("MISMATCH") == 0


def test_validate_sampled_coverage(spark, events, tmp_path):
    """coverage_percent < 100 validates a token-space sample of keys on
    BOTH sides (SplitPartitions.java:66-68, README.md:186)."""
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    full_d, full_jc = validate(spark, cfg, changelog_df=events)
    cfg25 = make_cfg(tmp_path, coverage_percent=25)
    d, jc = validate(spark, cfg25, changelog_df=events)
    assert 0 < jc.get("READ") < full_jc.get("READ")
    assert jc.get("MISSING") == 0 and jc.get("MISMATCH") == 0


def test_diff_reports_mismatching_column_names(spark):
    from cassandra_data_migrator_spark.operators.diff import diff

    e = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "b", 2), ("k3", "c", 3)], "key string, v string, n long"
    )
    a = spark.createDataFrame(
        [("k1", "a", 1), ("k2", "XX", 2), ("k4", "d", 4)], "key string, v string, n long"
    )
    d = {r["key"]: r for r in diff(e, a, "key", ["v", "n"]).collect()}
    assert d["k1"][STATUS_COL] == "VALID" and d["k1"]["_mismatch_cols"] == []
    assert d["k2"][STATUS_COL] == "MISMATCH" and d["k2"]["_mismatch_cols"] == ["v"]
    assert d["k3"][STATUS_COL] == "MISSING" and d["k3"]["_mismatch_cols"] == ["v", "n"]
    assert d["k4"][STATUS_COL] == "EXTRA"


def test_lake_point_lookup_prunes_buckets(spark, events, tmp_path):
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events)
    lake = LakeTable(spark, cfg.lake_path)
    all_rows = {r["url"]: r["seq"] for r in lake.read().collect()}
    some = sorted(all_rows)[:3]
    got = {r["url"]: r["seq"] for r in lake.lookup(some).collect()}
    assert got == {k: all_rows[k] for k in some}


def test_token_range_restricted_ingest(spark, events, tmp_path):
    """min/max-token restriction: only keys whose token falls in range
    are ingested (partition.min/max param analog), and the full-range
    ingest of the complement + range together equals the unrestricted
    fold."""
    from cassandra_data_migrator_spark.plans.partitions import TOKEN_SPACE, token_expr

    mid = TOKEN_SPACE // 2
    cfg = make_cfg(tmp_path, max_token=mid)
    ingest(spark, cfg, changelog_df=events)
    got = LakeTable(spark, cfg.lake_path).read()
    full = expected_state(events, make_cfg(tmp_path / "unused"))
    expected = full.where(token_expr("url") <= mid)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert got.count() < full.count()
    # the complement range into the same lake applies its own epochs
    # (the first run's range-scoped commit keys do not cover them)
    res = ingest(spark, make_cfg(tmp_path, min_token=mid + 1), changelog_df=events)
    assert res.epochs_applied and not res.epochs_skipped
    got = LakeTable(spark, cfg.lake_path).read()
    assert got.exceptAll(full).count() == 0
    assert full.exceptAll(got).count() == 0

def test_asof_join_matches_lake_built_up_to_timestamp(spark, events, tmp_path):
    """Cross-check of the two point-in-time paths: for sampled cut
    timestamps T, the event-stream as-of join probed at T must agree
    per key with a lake ingested from only the events at-or-before T
    (deleted winners absent from the lake, matched as op='D' by the
    as-of join)."""
    from cassandra_data_migrator_spark.operators.asof import asof_join

    tmin, tmax = events.agg(F.min("warc_ts"), F.max("warc_ts")).first()
    cuts = [tmin + (tmax - tmin) * f for f in (0.33, 0.66, 1.0)]
    urls = [r["url"] for r in events.select("url").distinct().limit(60).collect()]
    # right side unique per (key, ts): collapse ts-ties by max seq —
    # the same (ts, seq) ordering the lake's LWW fold uses
    right = (
        events.groupBy("url", "warc_ts")
        .agg(F.max_by(F.struct("seq", "text", "op"), "seq").alias("_w"))
        .select("url", "warc_ts", "_w.*")
    )
    for i, cut in enumerate(cuts):
        cfg = make_cfg(tmp_path / f"t{i}")
        ingest(spark, cfg, changelog_df=events.where(F.col("warc_ts") <= F.lit(cut)))
        lake_rows = {
            r["url"]: (r["seq"], r["text"])
            for r in LakeTable(spark, cfg.lake_path).read()
            .where(F.col("url").isin(urls)).collect()
        }
        probes = spark.createDataFrame(
            [(u, cut) for u in urls], "url string, warc_ts timestamp"
        )
        got = asof_join(
            probes, right, ["url"], "warc_ts",
            {"seq": "w_seq", "text": "w_text", "op": "w_op"},
        ).collect()
        assert len(got) == len(urls)
        checked_live = 0
        for r in got:
            if r["w_seq"] is None or r["w_op"] == "D":
                assert r["url"] not in lake_rows, (i, r["url"])
            else:
                assert lake_rows.get(r["url"]) == (r["w_seq"], r["w_text"]), (i, r["url"])
                checked_live += 1
        assert checked_live > 0

def test_auto_lww_salts_skewed_epoch_only(spark, tmp_path):
    """lww_strategy='auto': an epoch dominated by a single key engages
    the salted two-phase fold (recorded in RunResult.epochs_salted);
    a uniform epoch stays skinny; final state matches the one-shot fold
    either way."""
    import datetime

    base_ts = datetime.datetime(2026, 1, 1)
    rows = []
    # epoch 0: 400 rows, ONE key (degenerate skew)
    for i in range(400):
        rows.append((i, i % 8, "U", "https://hot", base_ts + datetime.timedelta(seconds=i),
                     None, f"v{i}", None, 0))
    # epoch 1: 400 rows over 200 keys (uniform)
    for i in range(400):
        rows.append((400 + i, i % 8, "U", f"https://u/{i % 200}",
                     base_ts + datetime.timedelta(seconds=400 + i), None, f"w{i}", None, 1))
    from cassandra_data_migrator_spark.streaming.replay import WAL_SCHEMA
    events = spark.createDataFrame(rows, WAL_SCHEMA)

    cfg = make_cfg(tmp_path, skew_min_rows=100, num_partitions=8)
    res = ingest(spark, cfg, changelog_df=events, lww_strategy="auto")
    assert res.epochs_salted == [0]
    lake = LakeTable(spark, cfg.lake_path)
    actual = lake.read()
    expected = expected_state(events, cfg)
    assert actual.exceptAll(expected).count() == 0
    assert expected.exceptAll(actual).count() == 0
    # the hot key folded to its single (ts, seq)-max winner
    hot = actual.where("url = 'https://hot'").collect()
    assert len(hot) == 1 and hot[0]["text"] == "v399"


def test_time_travel_reads_and_vacuum(spark, events, tmp_path):
    """Snapshot reads: read(version=v) must reproduce the table exactly
    as it stood when v was CURRENT — across MoR commits and compaction.
    vacuum(retain_last=1) then deletes every data file the current
    manifest doesn't reference, keeps the current read byte-identical,
    and makes old versions raise."""
    import os

    def count_parquet() -> int:
        return sum(
            fn.endswith(".parquet")
            for _, _, fns in os.walk(str(tmp_path / "lake"))
            for fn in fns
        )

    cfg = make_cfg(tmp_path)
    snaps = {}
    lake = None
    for upto in (3, 6):
        ingest(spark, cfg, changelog_df=events.where(F.col("batch_epoch") < upto))
        lake = LakeTable(spark, cfg.lake_path)
        snaps[lake.manifest().version] = {
            tuple(r) for r in lake.read().collect()
        }
    assert len(snaps) == 2
    v1, v2 = sorted(snaps)
    assert {tuple(r) for r in lake.read(version=v1).collect()} == snaps[v1]
    assert {tuple(r) for r in lake.read(version=v2).collect()} == snaps[v2]
    assert lake.versions()[-1] == v2
    # vacuum: current read unchanged, old versions gone, files deleted
    n_before = count_parquet()
    removed = lake.vacuum(retain_last=1)
    assert removed > 0
    assert {tuple(r) for r in lake.read().collect()} == snaps[v2]
    with pytest.raises(ValueError, match="retained"):
        lake.read(version=v1)
    assert count_parquet() == n_before - removed


def _crash_commit(m, point: str, k: int) -> None:
    """Make the k-th lake commit crash at ``point``: 'link' raises in
    place of linking its ``v{N}.json``; 'hint' raises after that link,
    in place of the CURRENT hint write."""
    name, target = ("link", ".json") if point == "link" else ("replace", "CURRENT")
    real, calls = getattr(os, name), []

    def crashing(src, dst, *args, **kwargs):
        if os.path.basename(os.path.dirname(dst)) == "_manifests" and dst.endswith(target):
            calls.append(dst)
            if len(calls) == k:
                raise OSError(f"injected crash at the {point} of commit {k}")
        return real(src, dst, *args, **kwargs)

    m.setattr(os, name, crashing)


def _crash_stage(m, point: str, k: int) -> None:
    """Make the k-th ``stage_delta`` call crash: 'stage' raises before
    it writes anything; 'staged' raises after its data write finished,
    so that epoch's files are written and never committed."""
    real, calls, lock = LakeTable.stage_delta, [], threading.Lock()

    def crashing(self, batch):
        with lock:
            calls.append(batch)
            n = len(calls)
        if n == k and point == "stage":
            raise OSError(f"injected crash in stage {k}")
        staged = real(self, batch)
        if n == k:
            raise OSError(f"injected crash after the data write of stage {k}")
        return staged

    m.setattr(LakeTable, "stage_delta", crashing)


def _assert_lake_exact(lake, want_rows, events, num_partitions):
    """Lake rows equal ``want_rows`` (sorted by url) and every
    partition:epoch key is applied exactly once."""
    assert lake.read().orderBy("url").collect() == want_rows
    epochs = {r[0] for r in events.select("batch_epoch").distinct().collect()}
    assert sorted(lake.manifest().applied) == sorted(
        f"{p}:{e}" for p in range(num_partitions) for e in epochs
    )


def _expected_rows(lake, events, cfg):
    return expected_state(events, cfg).select(*lake.read().columns).orderBy("url").collect()


def test_crash_between_link_and_hint_resumes(spark, events, tmp_path, monkeypatch):
    """A crash after an ingest commit's version link and before its
    CURRENT hint write leaves a committed version beyond the hint; a
    plain rerun of ingest finishes from it, with no manual step."""
    cfg = make_cfg(tmp_path)
    with monkeypatch.context() as m:
        _crash_commit(m, "hint", 4)
        with pytest.raises(OSError, match="injected crash"):
            ingest(spark, cfg, changelog_df=events)
    ingest(spark, cfg, changelog_df=events)
    lake = LakeTable(spark, cfg.lake_path)
    _assert_lake_exact(lake, _expected_rows(lake, events, cfg), events, 8)


FAULT_PARTITIONS = 4
# an uncrashed run over 4 epochs with compact_every=2 commits 7 times
# when each epoch is its own group (epoch_size = the WAL's epoch size):
# create (v1), then twice two epoch deltas and a compaction
FAULT_EPOCHS, FAULT_COMMITS = 4, 7
# (point, k): the k-th commit crashes at its link or hint write, or the
# k-th epoch stage crashes before or after its data write
FAULT_POINTS = [(p, k) for p in ("link", "hint") for k in range(1, FAULT_COMMITS + 1)] + [
    (p, k) for p in ("stage", "staged") for k in range(1, FAULT_EPOCHS + 1)
]
# at make_cfg's budget (EPOCH rows) the same run coalesces the epochs in
# pairs (a group holds fewer than compact_every epochs) and commits 4
# times: create, group [0, 1], group [2, 3], a compaction
COALESCED_GROUPS, COALESCED_COMMITS = 2, 4
COALESCED_POINTS = [
    (p, k) for p in ("link", "hint") for k in range(1, COALESCED_COMMITS + 1)
] + [(p, k) for p in ("stage", "staged") for k in range(1, COALESCED_GROUPS + 1)]


@pytest.fixture(scope="module")
def small_events(spark):
    df = wal.changelog(
        spark, 800, n_urls=60, epoch_size=800 // FAULT_EPOCHS, num_partitions=FAULT_PARTITIONS
    ).cache()
    df.count()
    return df


def _uncrashed_run(spark, small_events, root, n_commits, **kw):
    """(rows of an uncrashed lake, rows of the verify fold), by url; the
    run links ``n_commits`` manifest versions."""
    cfg = make_cfg(root, num_partitions=FAULT_PARTITIONS, **kw)
    links, link = [], os.link

    def counted_link(src, dst):
        links.append(dst)
        return link(src, dst)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "link", counted_link)
        ingest(spark, cfg, changelog_df=small_events, compact_every=2)
    assert len(links) == n_commits
    lake = LakeTable(spark, cfg.lake_path)
    return lake.read().orderBy("url").collect(), _expected_rows(lake, small_events, cfg)


@pytest.fixture(scope="module")
def uncrashed_coalesced(spark, small_events, tmp_path_factory):
    return _uncrashed_run(
        spark, small_events, tmp_path_factory.mktemp("coalesced"), COALESCED_COMMITS
    )


@pytest.fixture(scope="module")
def uncrashed(spark, small_events, tmp_path_factory):
    """(rows of an uncrashed lake, rows of the verify fold), by url."""
    return _uncrashed_run(spark, small_events, tmp_path_factory.mktemp("uncrashed"),
                          FAULT_COMMITS, epoch_size=800 // FAULT_EPOCHS)


def _crash_then_resume_exactly(spark, small_events, cfg, monkeypatch, point, k, want_rows):
    """Crash one ingest run at ``(point, k)``, rerun it, and check the
    lake against ``want_rows``: every key applied once, and after
    ``vacuum(retain_last=1)`` no data file outside the head snapshot."""
    with monkeypatch.context() as m:
        (_crash_stage if point.startswith("stage") else _crash_commit)(m, point, k)
        with pytest.raises(OSError, match="injected crash"):
            ingest(spark, cfg, changelog_df=small_events, compact_every=2)
    ingest(spark, cfg, changelog_df=small_events, compact_every=2)
    lake = LakeTable(spark, cfg.lake_path)
    _assert_lake_exact(lake, want_rows, small_events, FAULT_PARTITIONS)
    lake.vacuum(retain_last=1)
    _assert_lake_exact(lake, want_rows, small_events, FAULT_PARTITIONS)
    on_disk = {
        os.path.relpath(os.path.join(d, f), cfg.lake_path)
        for d, _, fs in os.walk(os.path.join(cfg.lake_path, "data"))
        for f in fs if f.endswith(".parquet")
    }
    assert on_disk == set(lake.manifest().files())


@pytest.mark.parametrize("point,k", FAULT_POINTS)
def test_commit_fault_matrix_resumes_exactly(
    spark, small_events, uncrashed, tmp_path, monkeypatch, point, k
):
    """Crash each commit of an ingest run (create, epoch deltas and
    compactions) at its link or at its hint write, or each epoch's
    stage before or after its data write, then rerun ingest: the resumed
    lake reads row for row as the uncrashed lake and the verify fold,
    and no commit key is applied twice. ``vacuum(retain_last=1)`` then
    leaves no data file outside the head snapshot: orphan staged
    commit dirs are reclaimed."""
    cfg = make_cfg(tmp_path, num_partitions=FAULT_PARTITIONS, epoch_size=800 // FAULT_EPOCHS)
    uncrashed_rows, expected_rows = uncrashed
    assert uncrashed_rows == expected_rows
    _crash_then_resume_exactly(spark, small_events, cfg, monkeypatch, point, k, uncrashed_rows)


@pytest.mark.parametrize("point,k", COALESCED_POINTS)
def test_coalesced_commit_fault_matrix_resumes_exactly(
    spark, small_events, uncrashed, uncrashed_coalesced, tmp_path, monkeypatch, point, k
):
    """The same matrix over the default (coalesced) plan: each of its 4
    commits crashes at the link or the hint write, or each group's
    stage before or after its data write. The resumed lake reads row
    for row as the uncrashed coalesced lake, the per-epoch one and the
    verify fold."""
    cfg = make_cfg(tmp_path, num_partitions=FAULT_PARTITIONS)
    coalesced_rows, expected_rows = uncrashed_coalesced
    assert coalesced_rows == expected_rows == uncrashed[0]
    _crash_then_resume_exactly(spark, small_events, cfg, monkeypatch, point, k, coalesced_rows)


def test_failed_ingest_returns_after_staging_stops(spark, events, tmp_path, monkeypatch):
    """Epoch 0's stage fails while epoch 1's stage is still running:
    ingest raises only after that stage has finished, so no stage
    writes into the lake after ingest has raised."""
    cfg = make_cfg(tmp_path)
    real, lock, other_started = LakeTable.stage_delta, threading.Lock(), threading.Event()
    running, finished = [0], []

    def failing_then_slow(self, batch):
        if batch.agg(F.min("seq")).first()[0] // EPOCH == 0:
            other_started.wait(60)  # fail while the next stage is under way
            raise RuntimeError("injected stage failure")
        with lock:
            running[0] += 1
        other_started.set()
        time.sleep(2)
        try:
            return real(self, batch)
        finally:
            with lock:
                running[0] -= 1
                finished.append(time.monotonic())

    with monkeypatch.context() as m:
        m.setattr(LakeTable, "stage_delta", failing_then_slow)
        with pytest.raises(RuntimeError, match="injected stage failure"):
            ingest(spark, cfg, changelog_df=events)
        raised_at = time.monotonic()
        deadline = raised_at + 60
        while running[0] and time.monotonic() < deadline:  # let a leftover stage end
            time.sleep(0.1)
    assert finished and not running[0]
    assert max(finished) <= raised_at



def test_vacuum_survives_swap_crash_orphan(spark, events, tmp_path, monkeypatch):
    """Two runs that each crash between a commit's link and its hint
    write leave the CURRENT hint two versions behind the head. vacuum
    keeps the head (the last linked version, not the hinted one), and
    the table reads it."""
    cfg = make_cfg(tmp_path)
    ingest(spark, cfg, changelog_df=events.where(F.col("batch_epoch") < 3))
    upto5 = events.where(F.col("batch_epoch") < 5)
    for _ in range(2):  # each run dies after linking its first commit
        with monkeypatch.context() as m:
            _crash_commit(m, "hint", 1)
            with pytest.raises(OSError, match="injected crash"):
                ingest(spark, cfg, changelog_df=upto5)
    lake = LakeTable(spark, cfg.lake_path)
    head = lake.versions()[-1]
    with open(os.path.join(cfg.lake_path, "_manifests", "CURRENT")) as f:
        assert int(f.read()) == head - 2
    want = _expected_rows(lake, upto5, cfg)
    lake.vacuum(retain_last=1)
    assert lake.versions() == [head]
    _assert_lake_exact(lake, want, upto5, 8)


def test_vacuum_crash_before_data_files_resumes(spark, small_events, tmp_path, monkeypatch):
    """A crash in vacuum after it removed the expired manifests and
    before it removed their data files: the table still reads the head,
    and the next vacuum finishes the sweep."""
    cfg = make_cfg(tmp_path, num_partitions=FAULT_PARTITIONS)
    ingest(spark, cfg, changelog_df=small_events, compact_every=2)
    lake = LakeTable(spark, cfg.lake_path)
    head = lake.manifest().version
    before = lake.read().orderBy("url").collect()
    remove = os.remove

    def crash_on_data_file(path, *args, **kwargs):
        if str(path).endswith(".parquet"):
            raise OSError("injected crash in vacuum")
        return remove(path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(os, "remove", crash_on_data_file)
        with pytest.raises(OSError, match="injected crash"):
            lake.vacuum(retain_last=1)
    assert lake.versions() == [head]
    assert lake.read().orderBy("url").collect() == before
    assert lake.vacuum(retain_last=1) > 0
    assert lake.versions() == [head]
    assert lake.read().orderBy("url").collect() == before
