"""Ingest plans runs of small fresh epochs as groups: one staged delta
and one commit per group, budgeted by ``cfg.epoch_size`` rows and by
``compact_every`` epochs.

The differential test ingests one WAL twice, coalesced (the budget
holds several epochs) and per epoch (``epoch_size`` = the WAL's epoch
size), and asserts both lakes, their applied keys and their per-epoch
lineage agree with each other and with the verify fold (the
two-implementations-one-assertion pattern). The plan-shape tests count
the commits and their keys."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark import jobs
from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.jobs import expected_state, ingest
from cassandra_data_migrator_spark.lineage import LineageStore
from cassandra_data_migrator_spark.operators.lww import lww_dedup_skinny
from cassandra_data_migrator_spark.plans.partitions import TOKEN_SPACE
from cassandra_data_migrator_spark.sources import changelog as wal
from cassandra_data_migrator_spark.sources.lake import LakeTable

EPOCH, N_EPOCHS, PARTS = 800, 9, 8


def make_cfg(root, **kw) -> EngineConfig:
    d = dict(
        lake_path=str(root / "lake"),
        lineage_path=str(root / "lineage"),
        num_partitions=PARTS,
        num_buckets=8,
    )
    d.update(kw)
    return EngineConfig.from_dict(d)


@pytest.fixture(scope="module")
def events(spark):
    df = wal.changelog(
        spark, EPOCH * N_EPOCHS, n_urls=400, epoch_size=EPOCH, num_partitions=PARTS
    ).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def wal_dir(events, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("wal") / "wal")
    wal.write_changelog(events, path)
    return path


def _commits(monkeypatch) -> list[list[str]]:
    """The sorted commit keys of every ``commit_staged_delta`` call."""
    commits, real = [], LakeTable.commit_staged_delta

    def counted(self, staged, keys):
        commits.append(sorted(keys))
        return real(self, staged, keys)

    monkeypatch.setattr(LakeTable, "commit_staged_delta", counted)
    return commits


def _keys(epochs, parts=range(PARTS)) -> list[str]:
    return sorted(f"{p}:{e}" for e in epochs for p in parts)


# (source, lww_strategy, extra config); skew_min_rows=20 makes 'auto'
# salt the zipf head's epochs and groups
CASES = {
    "wal-skinny": ("wal", "skinny", {}),
    "df-skinny-where": ("df", "skinny", {"where_condition": "seq % 3 <> 0"}),
    "wal-auto-where": ("wal", "auto", {"skew_min_rows": 20, "where_condition": "seq % 5 <> 0"}),
    "df-auto-token-range": ("df", "auto", {"skew_min_rows": 20, "max_token": TOKEN_SPACE // 2}),
}


@pytest.mark.parametrize("case", list(CASES))
def test_coalesced_equals_per_epoch_equals_verify_fold(
    spark, events, wal_dir, tmp_path, monkeypatch, case
):
    source, strategy, extra = CASES[case]
    commits = _commits(monkeypatch)
    runs = {}
    for name, budget in (("coalesced", EngineConfig().epoch_size), ("per_epoch", EPOCH)):
        cfg = make_cfg(tmp_path / name, epoch_size=budget, **extra)
        if source == "wal":
            cfg = dataclasses.replace(cfg, changelog_path=wal_dir)
        del commits[:]
        res = ingest(spark, cfg, changelog_df=None if source == "wal" else events,
                     compact_every=3, lww_strategy=strategy)
        assert sorted(res.epochs_applied) == list(range(N_EPOCHS))
        assert bool(res.epochs_salted) == (strategy == "auto")
        lake = LakeTable(spark, cfg.lake_path)
        details = LineageStore(spark, cfg.lineage_path).details().where("status = 'PASS'")
        runs[name] = dict(
            n_commits=len(commits),
            rows=lake.read().orderBy("url").collect(),
            applied=sorted(lake.manifest().applied),
            lineage=sorted(map(tuple, details.select(
                "batch_epoch", "partition", "read_cnt", "write_cnt", "skipped_cnt",
                "watermark_seq").collect())),
            counters=res.counters.as_dict(),
        )
    coalesced, per_epoch = runs["coalesced"], runs["per_epoch"]
    # 9 epochs at compact_every=3: groups [0-2], [3-5], [6-8]
    assert (coalesced["n_commits"], per_epoch["n_commits"]) == (3, N_EPOCHS)
    expected = expected_state(events, cfg).select(*lake.read().columns).orderBy("url")
    assert coalesced["rows"] == per_epoch["rows"] == expected.collect()
    assert coalesced["applied"] == per_epoch["applied"]
    assert coalesced["lineage"] == per_epoch["lineage"]
    assert len(coalesced["lineage"]) == N_EPOCHS * PARTS
    assert coalesced["counters"] == per_epoch["counters"]
    if "max_token" in extra:
        assert all(k.endswith(f"@..{TOKEN_SPACE // 2}") for k in coalesced["applied"])


def test_wal_footer_rows_equal_epoch_counts(spark, wal_dir):
    """The WAL-dir plan's per-epoch rows, summed from parquet footers
    on the driver, equal a Spark count per ``batch_epoch``."""
    counted = spark.read.parquet(wal_dir).groupBy("batch_epoch").count().collect()
    assert jobs._epochs_from_wal_dirs(wal_dir) == dict(counted)


def test_default_budget_plans_groups_of_compact_every(spark, wal_dir, tmp_path, monkeypatch):
    """9 epochs of 800 at the default budget and compact_every=8 commit
    as two deltas (epochs 0-7, then 8), then one compaction."""
    commits = _commits(monkeypatch)
    compactions, compact = [], LakeTable.compact

    def counted_compact(self, *args, **kwargs):
        res = compact(self, *args, **kwargs)
        compactions.append(res.committed)
        return res

    monkeypatch.setattr(LakeTable, "compact", counted_compact)
    cfg = make_cfg(tmp_path, changelog_path=wal_dir)
    res = ingest(spark, cfg, compact_every=8)
    assert commits == [_keys(range(8)), _keys([8])]
    assert compactions == [True, False]  # the due one, then the closing no-op
    assert res.epochs_applied == list(range(N_EPOCHS))


def test_epoch_over_budget_commits_alone(spark, events, tmp_path, monkeypatch):
    """Every epoch but 4 is thinned to 200 rows; at a 600-row budget the
    thin epochs group in threes, and epoch 4 (800 rows) commits alone."""
    thin = events.where((F.col("batch_epoch") == 4) | (F.col("seq") % 4 == 0))
    commits = _commits(monkeypatch)
    cfg = make_cfg(tmp_path, epoch_size=600)
    ingest(spark, cfg, changelog_df=thin, compact_every=8)
    assert commits == [_keys(g) for g in ([0, 1, 2], [3], [4], [5, 6, 7], [8])]
    got = LakeTable(spark, cfg.lake_path).read().orderBy("url").collect()
    want = expected_state(thin, cfg).orderBy("url").collect()
    assert [r["seq"] for r in got] == [r["seq"] for r in want]


def test_partial_epoch_commits_alone_and_splits_groups(spark, events, tmp_path, monkeypatch):
    """A pre-applied ``0:4`` slice: epoch 4 commits its pending
    partitions (those with rows) alone, and the fresh epochs group on
    either side of it."""
    cfg = make_cfg(tmp_path)
    lake = jobs._ensure_lake(spark, cfg, events)
    e4 = events.where(F.col("batch_epoch") == 4)
    first = e4.where(F.col("partition") == 0).drop("partition", "batch_epoch")
    lake.commit_staged_delta(
        lake.stage_delta(lww_dedup_skinny(first, "url", "warc_ts", "seq")), ["0:4"]
    )
    pending = {r[0] for r in e4.select("partition").distinct().collect()} - {0}
    commits = _commits(monkeypatch)
    res = ingest(spark, cfg, changelog_df=events, compact_every=8)
    assert commits == [_keys(range(4)), _keys([4], pending), _keys(range(5, 9))]
    assert res.epochs_applied == list(range(N_EPOCHS))
    got = LakeTable(spark, cfg.lake_path).read().orderBy("url").collect()
    want = expected_state(events, cfg).orderBy("url").collect()
    assert [r["seq"] for r in got] == [r["seq"] for r in want]
