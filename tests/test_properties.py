"""Property-based tests (hypothesis) for the semantics that everything
else rests on: LWW resolution, portable hashing, idempotent lake
merges. Random inputs, Python reference models, small example counts
(each example spins Spark jobs)."""

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from cassandra_data_migrator_spark.functions.hashes import P_MOD, portable_hash_py
from cassandra_data_migrator_spark.operators.lww import (
    lww_dedup,
    lww_dedup_salted,
    lww_dedup_skinny,
)

BASE = datetime.datetime(2024, 1, 1)

# (key, ts_offset_sec, payload) triples; seq assigned by list position
events_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k1", "k2", "k3"]),
        st.integers(min_value=0, max_value=50),
        st.text(alphabet="abcxyz", min_size=0, max_size=5),
    ),
    min_size=1,
    max_size=25,
)

SETTINGS = settings(
    max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _reference_lww(rows):
    """Python model: per key, the row with the largest (ts, seq)."""
    best = {}
    for key, ts, seq, payload in rows:
        cur = best.get(key)
        if cur is None or (ts, seq) > (cur[1], cur[2]):
            best[key] = (key, ts, seq, payload)
    return set(best.values())


@given(events_strategy)
@SETTINGS
def test_lww_strategies_agree_with_model(spark, evs):
    rows = [
        (k, BASE + datetime.timedelta(seconds=off), i, p)
        for i, (k, off, p) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, payload string"
    )
    expected = _reference_lww(rows)
    for fn in (lww_dedup, lww_dedup_skinny, lww_dedup_salted):
        got = {
            (r["url"], r["warc_ts"], r["seq"], r["payload"])
            for r in fn(df, "url", "warc_ts", "seq").collect()
        }
        assert got == expected, fn.__name__


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               max_size=40))
@SETTINGS
def test_portable_hash_spark_matches_python(spark, s):
    from pyspark.sql import functions as F

    from cassandra_data_migrator_spark.functions.hashes import portable_hash_expr

    got = (
        spark.range(1)
        .select(portable_hash_expr(F.lit(s)).alias("h"))
        .first()["h"]
    )
    assert got == portable_hash_py(s)
    assert 0 <= got < P_MOD


@given(events_strategy)
@SETTINGS
def test_lake_merge_idempotent_under_reapplication(spark, tmp_path_factory, evs):
    """Applying the same batch twice (same commit key) never changes
    state; applying it under a NEW key is also a no-op because LWW
    re-resolution of identical rows is idempotent."""
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    rows = [
        (k, BASE + datetime.timedelta(seconds=off), i, p)
        for i, (k, off, p) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, seq long, payload string"
    )
    path = str(tmp_path_factory.mktemp("lake"))
    lake = LakeTable.create(spark, path, df.schema, key_col="url", num_buckets=4)
    lake.merge_cow(df, ["b1"])
    snap1 = sorted(tuple(r) for r in lake.read().collect())
    res = lake.merge_cow(df, ["b1"])  # same key: skipped
    assert not res.committed
    lake.merge_cow(df, ["b2"])  # new key: re-resolves to the same winners
    snap2 = sorted(tuple(r) for r in lake.read().collect())
    assert snap1 == snap2


# ------------------------------------------------------- lake folds vs model
# event i goes to batch assign[i]; empty batches are dropped
assign_strategy = st.lists(st.integers(min_value=0, max_value=2), min_size=25, max_size=25)
LAKE_SETTINGS = settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)
LAKE_SCHEMA = "url string, warc_ts timestamp, seq long, payload string"


def _event_rows(evs):
    return [
        (k, BASE + datetime.timedelta(seconds=off), i, p)
        for i, (k, off, p) in enumerate(evs)
    ]


def _batches(rows, assign):
    groups = [[r for r, a in zip(rows, assign) if a == b] for b in range(3)]
    return [g for g in groups if g]


def _snapshot(lake):
    return {tuple(r) for r in lake.read().collect()}


def _new_lake(spark, tmp_path_factory, schema):
    from cassandra_data_migrator_spark.sources.lake import LakeTable

    path = str(tmp_path_factory.mktemp("lake"))
    return LakeTable.create(
        spark, path, spark.createDataFrame([], schema).schema, key_col="url", num_buckets=4
    )


@given(events_strategy, assign_strategy)
@LAKE_SETTINGS
def test_lake_folds_agree_with_model(spark, tmp_path_factory, evs, assign):
    """Every lake fold equals the Python LWW model over batches that
    arrive in any order: MoR deltas resolved at read time, the same
    after compaction, a sequence of CoW merges, and MoR appends
    alternating with CoW merges. A CoW merge over pending deltas folds
    them in its own commit: one new version, no deltas left."""
    rows = _event_rows(evs)
    batches = _batches(rows, assign)
    expected = _reference_lww(rows)

    mor = _new_lake(spark, tmp_path_factory, LAKE_SCHEMA)
    cow = _new_lake(spark, tmp_path_factory, LAKE_SCHEMA)
    mixed = _new_lake(spark, tmp_path_factory, LAKE_SCHEMA)
    for i, b in enumerate(batches):
        df = spark.createDataFrame(b, LAKE_SCHEMA)
        mor.commit_staged_delta(mor.stage_delta(df), [f"b{i}"])
        cow.merge_cow(df, [f"b{i}"])
        if i % 2 == 0:
            mixed.commit_staged_delta(mixed.stage_delta(df), [f"b{i}"])
        else:
            parent = mixed.manifest().version
            mixed.merge_cow(df, [f"b{i}"])
            mf = mixed.manifest()
            assert mf.version == parent + 1
            assert not any(mf.deltas.values())
    assert _snapshot(mor) == expected
    mor.compact()
    assert _snapshot(mor) == expected
    assert _snapshot(cow) == expected
    assert _snapshot(mixed) == expected


@given(events_strategy, st.sets(st.sampled_from(["k1", "k2", "k3"])))
@LAKE_SETTINGS
def test_lake_force_merge_batch_wins_exact_ties(spark, tmp_path_factory, evs, forced):
    """merge_cow: a batch row with exactly the stored winner's
    (ts, seq) replaces it; keys outside the batch keep theirs."""
    rows = _event_rows(evs)
    lake = _new_lake(spark, tmp_path_factory, LAKE_SCHEMA)
    lake.merge_cow(spark.createDataFrame(rows, LAKE_SCHEMA), ["seed"])
    winners = _reference_lww(rows)
    ties = [(k, ts, seq, p + "!") for k, ts, seq, p in winners if k in forced]
    lake.merge_cow(spark.createDataFrame(ties, LAKE_SCHEMA), ["fix"])
    expected = {w for w in winners if w[0] not in forced} | set(ties)
    assert _snapshot(lake) == expected


@given(events_strategy, assign_strategy)
@LAKE_SETTINGS
def test_lake_counter_merge_agrees_with_model(spark, tmp_path_factory, evs, assign):
    """merge_counter over batches: each key's counter is the sum of all
    its deltas; the other columns come from its (ts, seq)-largest row."""
    schema = LAKE_SCHEMA + ", cnt long"
    rows = [(*r, i % 5 - 2) for i, r in enumerate(_event_rows(evs))]
    lake = _new_lake(spark, tmp_path_factory, schema)
    for i, b in enumerate(_batches(rows, assign)):
        lake.merge_counter(spark.createDataFrame(b, schema), [f"b{i}"], ["cnt"])
    sums: dict = {}
    for r in rows:
        sums[r[0]] = sums.get(r[0], 0) + r[4]
    expected = {(*w, sums[w[0]]) for w in _reference_lww([r[:4] for r in rows])}
    assert _snapshot(lake) == expected


# ------------------------------------------------------- incremental dedup
docs_strategy = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=8)
    .map(" ".join),
    min_size=2,
    max_size=14,
)


def _py_lsh_pairs(texts: dict[int, str], num_hashes=8, bands=4, n=3) -> set:
    """Python reference model of shingle->portable-minhash->band pairs
    (mirrors dedup.minhash_signature + banded_signatures semantics:
    empty-shingle docs dropped)."""
    from cassandra_data_migrator_spark.functions.hashes import minhash_coeffs

    coeffs = minhash_coeffs(num_hashes)
    rows_per = num_hashes // bands
    buckets: dict = {}
    for i, txt in texts.items():
        toks = txt.split(" ")
        grams = list(dict.fromkeys(
            " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)
        ))
        if not grams:
            continue
        hs = [portable_hash_py(g) for g in grams]
        sig = [min((h * a + b) % P_MOD for h in hs) for a, b in coeffs]
        for b in range(bands):
            key = (b, tuple(sig[b * rows_per:(b + 1) * rows_per]))
            buckets.setdefault(key, []).append(i)
    pairs = set()
    for ids in buckets.values():
        pairs.update((x, y) for x in ids for y in ids if x < y)
    return pairs


@given(docs_strategy, st.integers(min_value=1, max_value=13))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_incremental_lsh_matches_python_model(spark, texts, split_raw):
    """incremental_lsh_pairs == the Python banded-LSH model's pairs
    restricted to at-least-one-new, for ANY corpus and split point."""
    from cassandra_data_migrator_spark.operators import dedup

    corpus = dict(enumerate(texts))
    split = min(split_raw, len(corpus) - 1)
    df = spark.createDataFrame(
        [(i, t) for i, t in corpus.items()], "doc_id long, text string"
    )
    sig = dedup.minhash_signature(
        df, "text", "doc_id", num_hashes=8, hash_mode="portable"
    )
    inc = dedup.incremental_lsh_pairs(
        sig.where(f"doc_id < {split}"), sig.where(f"doc_id >= {split}"),
        "doc_id", num_hashes=8, bands=4,
    )
    got = {(r["id_a"], r["id_b"]) for r in inc.collect()}
    expect = {
        (a, b) for a, b in _py_lsh_pairs(corpus)
        if not (a < split and b < split)
    }
    assert got == expect
