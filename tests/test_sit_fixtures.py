"""SIT golden-test analogs — each test mirrors a scenario from the
reference's containerized integration suite (/root/reference/SIT/),
re-expressed as DataFrame-in -> expected-final-state assertions
(FIXTURES.md §2 catalog)."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from cassandra_data_migrator_spark.functions import transforms
from cassandra_data_migrator_spark.operators.diff import STATUS_COL, diff, diff_counters
from cassandra_data_migrator_spark.sources.lake import LakeTable


def _mk_lake(spark, path, df, key="key", ts="ts", seq="seq", buckets=4):
    lake = LakeTable.create(
        spark, str(path), df.schema, key_col=key, ts_col=ts, seq_col=seq, num_buckets=buckets
    )
    return lake


def _kvp(spark, rows):
    return spark.createDataFrame(rows, "key string, value string, ts long, seq long, op string")


# --- SIT/smoke/01_basic_kvp: migrate then validate, golden equality
def test_basic_kvp_migrate_and_validate(spark, tmp_path):
    origin = _kvp(spark, [("k1", "v1", 1, 1, "U"), ("k2", "v2", 1, 2, "U")])
    lake = _mk_lake(spark, tmp_path / "lake", origin)
    lake.merge_cow(origin, ["m1"])
    target = lake.read()
    d = diff(origin, target, "key", ["value"])
    jc = diff_counters(d)
    assert jc.get("VALID") == 2 and jc.get("MISSING") == 0 and jc.get("MISMATCH") == 0


# --- SIT/smoke/02_autocorrect_kvp: seeded drift -> detect -> correct
def test_autocorrect_kvp(spark, tmp_path):
    origin = _kvp(spark, [("k1", "v1", 1, 1, "U"), ("k2", "v2", 1, 2, "U"),
                          ("k3", "v3", 1, 3, "U")])
    drifted = _kvp(spark, [("k1", "v1", 1, 1, "U"), ("k2", "WRONG", 1, 2, "U")])
    lake = _mk_lake(spark, tmp_path / "lake", drifted)
    lake.merge_cow(drifted, ["seed"])
    # compare value plus the system columns so corrections carry them,
    # exactly as jobs.validate does
    d = diff(origin, lake.read(), "key", ["value", "ts", "seq", "op"])
    jc = diff_counters(d)
    assert jc.get("MISSING") == 1 and jc.get("MISMATCH") == 1 and jc.get("VALID") == 1
    from cassandra_data_migrator_spark.operators.diff import corrections

    lake.merge_cow(corrections(d, "key"), ["fix"])
    d2 = diff(origin, lake.read(), "key", ["value", "ts", "seq", "op"])
    assert diff_counters(d2).get("VALID") == 3


# --- SIT/smoke/03_ttl_writetime: largest-writetime-wins row semantics
def test_ttl_writetime_lww(spark, tmp_path):
    rows = _kvp(spark, [("k1", "old", 10, 1, "U"), ("k1", "new", 20, 2, "U"),
                        ("k1", "late-but-old", 5, 3, "U")])
    lake = _mk_lake(spark, tmp_path / "lake", rows)
    lake.merge_cow(rows, ["m"])
    got = lake.read().collect()
    assert len(got) == 1 and got[0]["value"] == "new"


# --- SIT/smoke/04_counters: delta-merge convergence
def test_counters_delta_merge(spark, tmp_path):
    schema = "key string, col1 long, col2 long, ts long, seq long, op string"
    b1 = spark.createDataFrame([("k1", 5, 1, 1, 1, "U"), ("k1", 3, 1, 2, 2, "U")], schema)
    lake = _mk_lake(spark, tmp_path / "lake", b1)
    lake.merge_counter(b1, ["e1"], ["col1", "col2"])
    got = {r["key"]: (r["col1"], r["col2"]) for r in lake.read().collect()}
    assert got == {"k1": (8, 2)}
    b2 = spark.createDataFrame([("k1", -2, 0, 3, 3, "U"), ("k2", 7, 1, 3, 4, "U")], schema)
    lake.merge_counter(b2, ["e2"], ["col1", "col2"])
    got = {r["key"]: (r["col1"], r["col2"]) for r in lake.read().collect()}
    assert got == {"k1": (6, 2), "k2": (7, 1)}
    # replaying an applied epoch is a no-op: counters do not double-sum
    res = lake.merge_counter(b2, ["e2"], ["col1", "col2"])
    assert not res.committed
    got = {r["key"]: (r["col1"], r["col2"]) for r in lake.read().collect()}
    assert got == {"k1": (6, 2), "k2": (7, 1)}


# --- SIT/smoke/05_reserved_keyword: quoted/odd identifiers survive
def test_reserved_keyword_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [("k1", "x", 1, 1, "U")], ["key", "select", "ts", "seq", "op"]
    )
    lake = _mk_lake(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["m"])
    assert lake.read().select("select").first()[0] == "x"


# --- SIT/smoke/06_vector: array<float> round-trip
def test_vector_roundtrip(spark, tmp_path):
    schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("ts", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
    ])
    df = spark.createDataFrame([("k1", [0.1, 0.2, 0.3], 1, 1, "U")], schema)
    lake = _mk_lake(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["m"])
    got = lake.read().first()["embedding"]
    assert [round(x, 5) for x in got] == [0.1, 0.2, 0.3]


# --- SIT/features/01_constant_column + 02_explode_map +
#     regression/02_ColumnRenameWithConstantsAndExplode combined
def test_rename_constants_explode_pipeline(spark, tmp_path):
    origin = spark.createDataFrame(
        [("k1", "v1", {"apple": 3, "pear": 5}, 1, 1, "U")],
        "src_key string, value string, fruits map<string,int>, ts long, seq long, op string",
    )
    out = transforms.rename_columns(origin, {"src_key": "key"})
    out = transforms.constant_columns(out, {"const1": 1, "const2": 1234})
    out = transforms.explode_map(out, "fruits", "fruit", "fruit_qty")
    # composite key (key, fruit): map key joins the PK (ExplodeMap)
    out = out.withColumn("key", F.concat_ws("|", "key", "fruit"))
    lake = _mk_lake(spark, tmp_path / "lake", out)
    lake.merge_cow(out, ["m"])
    got = {r["key"]: (r["fruit_qty"], r["const2"]) for r in lake.read().collect()}
    assert got == {"k1|apple": (3, 1234), "k1|pear": (5, 1234)}


# --- SIT/features/03_codec: type-change pipeline origin -> target
def test_codec_casts(spark, tmp_path):
    origin = spark.createDataFrame(
        [("1", "2024-06-01 12:30:00", "12345678901234", "9.75", 1, 1, "U")],
        "key string, ts_text string, big string, dec string, ts long, seq long, op string",
    )
    out = transforms.cast_columns(
        origin, {"big": "decimal(38,0)", "dec": "decimal(10,2)"}
    )
    out = out.withColumn("ts_parsed", F.to_timestamp("ts_text"))
    row = out.first()
    assert str(row["big"]) == "12345678901234"
    assert float(row["dec"]) == 9.75
    assert row["ts_parsed"].year == 2024


# --- SIT/features/05_guardrail: oversized column -> LARGE counter
def test_guardrail_sit(spark):
    from cassandra_data_migrator_spark.operators.guardrail import guardrail_check

    df = spark.createDataFrame(
        [("k1", "small"), ("k2", "B" * 5000)], "key string, blob_col string"
    )
    offending, jc = guardrail_check(df, col_size_kb=4)
    assert jc.get("LARGE") == 1 and jc.get("VALID") == 1
    assert offending.first()["key"] == "k2"


def test_guardrail_collection_bytes(spark):
    """Collections are sized by serialized (JSON) bytes, the encode
    analog of CqlTable.java:327-340 — not by Spark's display cast.
    A map whose JSON crosses 1 KB flags; a small one doesn't; fixed-
    width scalars count their codec width, so a row of big ints never
    trips a 1 KB threshold."""
    from cassandra_data_migrator_spark.operators.guardrail import guardrail_check

    big_map = {f"key_{i:04d}": "v" * 20 for i in range(40)}  # ~1.2 KB of JSON
    df = spark.createDataFrame(
        [("k1", {"a": "b"}, 2**62), ("k2", big_map, 2**62)],
        "key string, props map<string,string>, big long",
    )
    offending, jc = guardrail_check(df, col_size_kb=1)
    assert jc.get("LARGE") == 1 and jc.get("VALID") == 1
    row = offending.first()
    assert row["key"] == "k2" and row["_large_cols"] == ["props"]


# --- SIT/regression/04_null_ts_in_pk: null key component replaced
def test_null_ts_in_pk(spark, tmp_path):
    df = spark.createDataFrame(
        [("k1", None, "v1", 1, 1, "U"), ("k2", "2024-01-01 00:00:00", "v2", 1, 2, "U")],
        "key string, pk_ts string, value string, ts long, seq long, op string",
    )
    fixed = transforms.null_key_replace(
        df, ["pk_ts"], {"pk_ts": "1970-01-01 00:00:00"}
    ).withColumn("key", F.concat_ws("|", "key", "pk_ts"))
    lake = _mk_lake(spark, tmp_path / "lake", fixed)
    lake.merge_cow(fixed, ["m"])
    keys = {r["key"] for r in lake.read().collect()}
    assert keys == {"k1|1970-01-01 00:00:00", "k2|2024-01-01 00:00:00"}


# --- schema evolution: new column arrives mid-stream (additive)
def test_additive_schema_evolution_in_lake(spark, tmp_path):
    v1 = _kvp(spark, [("k1", "v1", 1, 1, "U")])
    lake = _mk_lake(spark, tmp_path / "lake", v1)
    lake.merge_cow(v1, ["e1"])
    v2 = spark.createDataFrame(
        [("k2", "v2", 2, 2, "U", "en")],
        "key string, value string, ts long, seq long, op string, lang string",
    )
    lake.merge_cow(v2, ["e2"])
    got = {r["key"]: r["lang"] for r in lake.read().collect()}
    assert got == {"k1": None, "k2": "en"}


# --- SIT/smoke/03_ttl_writetime (expiry half): a row with a lapsed TTL
# vanishes from the snapshot at read time and is physically reclaimed by
# an expiring compaction (USING TTL analog, TargetInsertStatement.java:128)
def test_ttl_expiry_read_and_compact(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("k1", "short", "2024-01-01 00:00:00", 1, "U", 3600),       # expires 01:00
            ("k2", "long", "2024-01-01 00:00:00", 2, "U", 86400 * 30),  # expires Jan 31
            ("k3", "forever", "2024-01-01 00:00:00", 3, "U", None),     # no TTL
        ],
        "key string, value string, ts_s string, seq long, op string, ttl int",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    lake = LakeTable.create(
        spark, str(tmp_path / "lake"), df.schema,
        key_col="key", ts_col="ts", seq_col="seq", num_buckets=4, ttl_col="ttl",
    )
    lake.commit_staged_delta(lake.stage_delta(df), ["e1"])

    live_early = {r["key"] for r in lake.read(as_of="2024-01-01 00:30:00").collect()}
    assert live_early == {"k1", "k2", "k3"}
    live_late = {r["key"] for r in lake.read(as_of="2024-01-05 00:00:00").collect()}
    assert live_late == {"k2", "k3"}
    live_feb = {r["key"] for r in lake.read(as_of="2024-02-15 00:00:00").collect()}
    assert live_feb == {"k3"}

    # physical reclaim: after an expiring compaction the row is gone
    # even from the raw (unresolved, unfiltered) scan
    lake.compact(expire_as_of="2024-01-05 00:00:00")
    remaining = {r["key"] for r in lake.scan_changes().collect()}
    assert remaining == {"k2", "k3"}


def test_concurrent_writer_fails_loudly(spark, tmp_path, monkeypatch):
    """A second writer racing a commit must FAIL, not silently discard
    the winner's commit. The winner commits inside the loser's window:
    after the loser read the manifest (caught by the head check), or
    just before the loser's link (caught by the link, which fails if
    the version file exists). Either way the winner stays the head."""
    import os

    df = _kvp(spark, [("k1", "v1", 1, 1, "U")])
    lake = _mk_lake(spark, tmp_path / "lake", df)
    lake.merge_cow(df, ["m1"])
    before = {tuple(r) for r in lake.read().collect()}
    collect_stats = LakeTable._collect_stats

    def winner_commits_first(self, files, mf):
        lake._commit(lake.manifest())  # a complete copy of the head
        return collect_stats(self, files, mf)

    link = os.link

    def winner_links_first(src, dst):
        mf = lake.manifest()
        mf.version += 1
        with open(dst, "w") as f:
            f.write(mf.to_json())
        return link(src, dst)

    races = ((LakeTable, "_collect_stats", winner_commits_first), (os, "link", winner_links_first))
    for target, name, race in races:
        v = lake.manifest().version
        with monkeypatch.context() as m:
            m.setattr(target, name, race)
            with pytest.raises(RuntimeError, match="concurrent commit"):
                lake.merge_cow(_kvp(spark, [("k2", "v2", 1, 2, "U")]), ["m2"])
        assert lake.manifest().version == v + 1
        assert {tuple(r) for r in lake.read().collect()} == before


def test_merge_counter_partial_overlap_raises(spark, tmp_path):
    """Re-summing counter deltas is never safe: a batch whose commit
    keys partially overlap the applied set must raise."""
    df = spark.createDataFrame(
        [("k1", 5, 10, 1, "U")], "key string, cnt long, ts long, seq long, op string"
    )
    lake = _mk_lake(spark, tmp_path / "lake", df)
    lake.merge_counter(df, ["c1"], counter_cols=["cnt"])
    # full overlap: clean skip
    res = lake.merge_counter(df, ["c1"], counter_cols=["cnt"])
    assert not res.committed
    # partial overlap: loud failure
    with pytest.raises(ValueError, match="partially applied"):
        lake.merge_counter(df, ["c1", "c2"], counter_cols=["cnt"])
