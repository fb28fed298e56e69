"""Point lookups (``LakeTable.lookup``) and the driver-side hash they
bucket keys with.

``lookup`` turns its key values into bucket ids on the driver
(``bucket_of`` over ``hashes.xxhash64_py``), so the bucket read is the
only Spark job. The differential test pins that Python mirror to
Spark's ``xxhash64`` / ``bucket_expr``; the semantics tests check that
a lookup returns exactly the snapshot's rows for its keys."""

import re
from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from cassandra_data_migrator_spark.functions.hashes import xxh64, xxhash64_py
from cassandra_data_migrator_spark.sources.lake import LakeTable, bucket_expr, bucket_of

NUM_BUCKETS = (1, 4, 8, 64, 1000)


def _kvp(spark, rows):
    return spark.createDataFrame(
        rows, "key string, value string, ts long, seq long, op string"
    )


def _mk(spark, path, df, buckets=8, **kw):
    return LakeTable.create(
        spark, str(path), df.schema,
        key_col="key", ts_col="ts", seq_col="seq", num_buckets=buckets, **kw,
    )


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


# ------------------------------------------------------------ hash mirror
def test_xxh64_published_seed0_vectors():
    """Spark-free: the XXH64 core against the reference seed-0 vectors."""
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def _string_cases() -> list:
    ascii_ = [
        "".join(chr(ord("a") + (i * 7 + n) % 26) for i in range(n)) for n in range(71)
    ]
    # 2-, 3- and 4-byte UTF-8 characters, alone, mixed, and long enough
    # to reach the 32-byte stripe loop
    wide = ["é", "€", "😀", "aé€😀", "ü" * 17, "€" * 11, "😀" * 9, "x😀y€zé" * 5,
            "https://example.com/p/000123", "https://example.com/ü/😀"]
    return ascii_ + wide + [None]


_INT_BOUNDS = [0, 1, -1, 42, -42, 2**31 - 1, -(2**31), 123_456_789, -987_654_321]
CASES = [
    (T.StringType(), _string_cases()),
    (T.IntegerType(), _INT_BOUNDS + [None]),
    (T.ShortType(), [0, 1, -1, 255, 256, 2**15 - 1, -(2**15), None]),
    (T.ByteType(), [0, 1, -1, 2**7 - 1, -(2**7), None]),
    (T.LongType(), _INT_BOUNDS + [2**31, 2**32 + 7, 2**63 - 1, -(2**63), None]),
]


@pytest.mark.parametrize("dt,values", CASES, ids=[dt.simpleString() for dt, _ in CASES])
def test_bucket_of_matches_spark_bucket_expr(spark, dt, values):
    """Differential: ``xxhash64_py`` equals Spark's ``xxhash64`` and
    ``bucket_of`` equals ``bucket_expr`` on every value, for moduli
    that make negative hashes exercise ``pmod``."""
    df = spark.createDataFrame([(v,) for v in values], T.StructType([T.StructField("k", dt)]))
    rows = df.select(
        "k", F.xxhash64("k").alias("h"),
        *[bucket_expr("k", n).alias(f"b{n}") for n in NUM_BUCKETS],
    ).collect()
    assert len(rows) == len(values)
    for r in rows:
        assert xxhash64_py(r.k, dt) == r.h, (dt, r.k)
        for n in NUM_BUCKETS:
            assert bucket_of(r.k, dt, n) == r[f"b{n}"], (dt, r.k, n)
    assert any(r.h < 0 for r in rows)  # pmod is exercised, not just %


def test_bucket_of_rejects_unsupported_key_type():
    with pytest.raises(TypeError, match="double"):
        xxhash64_py(1.5, T.DoubleType())
    with pytest.raises(TypeError, match="double"):
        bucket_of(1.5, T.DoubleType(), 8)
    # Spark hashes a collated string's collation key, not its UTF-8 bytes
    with pytest.raises(TypeError, match="UTF8_LCASE"):
        bucket_of("Key", T.StringType("UTF8_LCASE"), 8)


# ------------------------------------------------------------ lookup
@pytest.fixture()
def mor_lake(spark, tmp_path):
    """A compacted base of 40 keys in 8 buckets, then one uncompacted
    MoR delta that updates k1 and deletes k2."""
    base = _kvp(spark, [(f"k{i}", f"v{i}", 1, i, "U") for i in range(40)])
    lake = _mk(spark, tmp_path / "lake", base)
    lake.merge_cow(base, ["base"])
    delta = _kvp(spark, [("k1", "newer", 2, 100, "U"), ("k2", None, 2, 101, "D")])
    lake.commit_staged_delta(lake.stage_delta(delta), ["delta"])
    assert lake.manifest().deltas  # the delta is still pending
    return lake


def _assert_lookup_is_snapshot(lake, keys, as_of=None):
    got = _multiset(lake.lookup(keys, as_of=as_of))
    want = _multiset(lake.read(as_of=as_of).where(F.col("key").isin(keys)))
    assert got == want, keys
    return got


def test_lookup_equals_snapshot_filter_over_pending_delta(mor_lake):
    """Newer delta version wins; a delta tombstone hides the key; an
    absent key, a repeated key and an empty key list behave as the
    snapshot filter does; keys may span several buckets."""
    lake = mor_lake
    (row,) = _assert_lookup_is_snapshot(lake, ["k1"])
    assert row[1] == "newer"
    assert not _assert_lookup_is_snapshot(lake, ["k2"])
    assert not _assert_lookup_is_snapshot(lake, ["absent"])
    assert sum(_assert_lookup_is_snapshot(lake, ["k3", "k3", "k1"]).values()) == 2
    assert not _assert_lookup_is_snapshot(lake, [])
    spread = [f"k{i}" for i in range(0, 40, 3)] + ["k2", "absent"]
    assert len({bucket_of(k, T.StringType(), 8) for k in spread}) > 3
    assert sum(_assert_lookup_is_snapshot(lake, spread).values()) == 14


def test_lookup_over_pending_delta_pushes_its_key_into_the_scan(mor_lake):
    """The LWW fold emits the key from its grouping column, so the
    lookup's key filter pushes through the fold: every parquet scan of a
    lookup over a pending delta reads only the key's rows."""
    df = mor_lake.lookup(["k1"])
    assert [r.value for r in df.collect()] == ["newer"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and all("EqualTo(key,k1)" in p for p in pushed), plan


def test_lookup_as_of_on_ttl_table(spark, tmp_path):
    df = spark.createDataFrame(
        [
            ("k1", "short", "2024-01-01 00:00:00", 1, "U", 3600),
            ("k2", "long", "2024-01-01 00:00:00", 2, "U", 86400 * 30),
            ("k3", "forever", "2024-01-01 00:00:00", 3, "U", None),
        ],
        "key string, value string, ts_s string, seq long, op string, ttl int",
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")
    lake = _mk(spark, tmp_path / "lake", df, buckets=4, ttl_col="ttl")
    lake.commit_staged_delta(lake.stage_delta(df), ["e1"])
    keys = ["k1", "k2", "k3"]
    for as_of, live in [("2024-01-01 00:30:00", 3), ("2024-01-05 00:00:00", 2),
                        ("2024-02-15 00:00:00", 1)]:
        assert sum(_assert_lookup_is_snapshot(lake, keys, as_of=as_of).values()) == live
    lake.compact()
    assert sum(_assert_lookup_is_snapshot(lake, keys, as_of="2024-01-05 00:00:00").values()) == 2


def test_lookup_launches_no_job_before_collect(spark, mor_lake):
    """Building the lookup frame runs no Spark job: the bucket ids come
    from the driver, so the read at ``collect()`` is the lookup's only
    work. On a compacted lake that read is exactly one job; a pending
    delta makes it two, because the LWW fold's shuffle runs as its own
    job."""
    sc = spark.sparkContext

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        for group, compacted in [("lookup-mor", False), ("lookup-compacted", True)]:
            if compacted:
                mor_lake.compact()
            sc.setJobGroup(group, "lookup before collect")
            df = mor_lake.lookup(["k1", "k5"])
            assert jobs(group) == 0
            assert sorted(r.value for r in df.collect()) == ["newer", "v5"]
            assert jobs(group) == (1 if compacted else 2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
