"""Unit tests per operator/transform — the CDM JUnit layer analog
(reference: 60 per-component tests under src/test/java/com/datastax/cdm)."""

import pytest
from pyspark.sql import functions as F

from cassandra_data_migrator_spark.functions import transforms
from cassandra_data_migrator_spark.functions.hashes import portable_hash_expr
from cassandra_data_migrator_spark.operators import dedup, guardrail, lww, multimodal, similarity
from cassandra_data_migrator_spark.plans import partitions


def test_explode_map(spark):
    df = spark.createDataFrame(
        [("k1", "v1", {"apple": 1, "pear": 2})], "key string, value string, fruits map<string,int>"
    )
    out = transforms.explode_map(df, "fruits", "fruit", "fruit_qty")
    rows = {(r["fruit"], r["fruit_qty"]) for r in out.collect()}
    assert rows == {("apple", 1), ("pear", 2)}
    assert "fruits" not in out.columns


def test_extract_json_overwrite_skip(spark):
    df = spark.createDataFrame(
        [('{"f": "new"}', "old"), ('{"f": "x"}', None)], "payload string, target string"
    )
    keep = transforms.extract_json(df, "payload", "f", "target", overwrite=False)
    assert [r["target"] for r in keep.orderBy("payload").collect()] == ["old", "x"]
    clobber = transforms.extract_json(df, "payload", "f", "target", overwrite=True)
    assert [r["target"] for r in clobber.orderBy("payload").collect()] == ["new", "x"]


def test_rename_with_unset_target_cols(spark):
    df = spark.createDataFrame([(1, "a")], "src_id int, name string")
    out = transforms.rename_columns(
        df, {"src_id": "dst_id"}, target_cols=["dst_id", "name", "extra"]
    )
    row = out.first()
    assert row["dst_id"] == 1 and row["extra"] is None


def test_null_key_replace_and_validity(spark):
    df = spark.createDataFrame([("a",), (None,)], "k string")
    replaced = transforms.null_key_replace(df, ["k"])
    assert {r["k"] for r in replaced.collect()} == {"a", ""}
    dropped = transforms.drop_invalid_keys(df, ["k"])
    assert dropped.count() == 1


def test_scrub_null_map_values(spark):
    df = spark.createDataFrame([({"a": 1, "b": None},)], "m map<string,int>")
    out = transforms.scrub_null_map_values(df, ["m"])
    assert out.first()["m"] == {"a": 1}


def test_cast_and_format(spark):
    df = spark.createDataFrame([("42", "2024-06-01 12:00:00")], "n string, ts string")
    out = transforms.cast_columns(df, {"n": "int", "ts": "timestamp"})
    assert dict(out.dtypes)["n"] == "int"
    fmt = transforms.format_timestamp(out, "ts", "ts_s", "yyyy/MM/dd")
    assert fmt.first()["ts_s"] == "2024/06/01"


def test_greatest_writetime(spark):
    df = spark.createDataFrame([(1, 5, 3)], "a int, b int, c int")
    out = transforms.greatest_writetime(df, ["a", "b", "c"], "wt", increment=10)
    assert out.first()["wt"] == 15


def test_coverage_filter_reduces(spark):
    df = spark.range(0, 5000).select(F.col("id").cast("string").alias("k"))
    frac = df.where(partitions.coverage_filter("k", 20)).count() / 5000
    assert 0.1 < frac < 0.3


def test_salted_and_skinny_lww_equal_plain(spark):
    df = spark.createDataFrame(
        [(f"u{i % 7}", i % 13, i) for i in range(500)], "url string, warc_ts long, seq long"
    ).withColumn("warc_ts", F.timestamp_seconds("warc_ts"))
    a = lww.lww_dedup(df).orderBy("url").collect()
    b = lww.lww_dedup_salted(df, salt_buckets=4).orderBy("url").collect()
    c = lww.lww_dedup_skinny(df).orderBy("url").collect()
    assert a == b == c


def test_lww_dedup_tie_col_breaks_exact_ties(spark):
    """On an exact (ts, seq) tie max_by keeps the row it meets last, so
    the tie winner comes first here: only tie_col can pick it."""
    df = spark.createDataFrame(
        [("k", 1, 1, "win", 1), ("k", 1, 1, "lose", 0)],
        "url string, warc_ts long, seq long, p string, _prec int",
    ).coalesce(1)
    assert [tuple(r) for r in lww.lww_dedup(df, tie_col="_prec").collect()] == [
        ("k", 1, 1, "win")
    ]


def test_guardrail_counters(spark):
    df = spark.createDataFrame([("a", "x" * 2000), ("b", "y")], "k string, payload string")
    offending, jc = guardrail.guardrail_check(df, col_size_kb=1)
    assert jc.get("READ") == 2 and jc.get("LARGE") == 1 and jc.get("VALID") == 1
    assert offending.first()["_large_cols"] == ["payload"]


def test_minhash_similar_docs_share_bands(spark):
    base = " ".join(f"w{i}" for i in range(50))
    nearly = base + " extra"
    other = " ".join(f"z{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, nearly), (3, other)], "doc_id long, text string"
    )
    sig = dedup.minhash_signature(df, "text", "doc_id", num_hashes=16, hash_mode="fast")
    pairs = dedup.lsh_candidate_pairs(sig, "doc_id", num_hashes=16, bands=8).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert all(p in {(1, 2)} or 3 not in p for p in found)


def test_incremental_lsh_equals_full_minus_index(spark):
    """incremental_lsh_pairs(index, new) must be exactly the pairs a
    full recompute over index ∪ new adds beyond the index-internal
    pairs — including when capped buckets span both sides."""
    docs = [(i, " ".join(f"w{i % 4}x{j}" for j in range(30)) + f" v{i % 4}") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sig = dedup.minhash_signature(df, "text", "doc_id", num_hashes=16, hash_mode="fast")
    index, new = sig.where(F.col("doc_id") < 14), sig.where(F.col("doc_id") >= 14)
    # families of 5 identical docs span the 14-boundary: cap=4 drops the
    # combined buckets (5 > 4) while the index-only view (≤4) keeps them
    for cap in (None, 4):
        full = dedup.lsh_candidate_pairs(
            sig, "doc_id", num_hashes=16, bands=8, max_bucket_size=cap
        )
        idx_only = dedup.lsh_candidate_pairs(
            index, "doc_id", num_hashes=16, bands=8, max_bucket_size=cap
        )
        inc = dedup.incremental_lsh_pairs(
            index, new, "doc_id", num_hashes=16, bands=8, max_bucket_size=cap
        )
        as_set = lambda d: {(r["id_a"], r["id_b"]) for r in d.collect()}  # noqa: E731
        expect = as_set(full) - as_set(idx_only)
        got = as_set(inc)
        # capped buckets are counted over the COMBINED corpus, so the
        # incremental result mirrors the full recompute, not idx_only's
        # smaller-bucket view — compare against full-pair membership
        assert got == {p for p in as_set(full) if p[1] >= 14 or p[0] >= 14}
        if cap is None:
            assert got == expect


def test_simhash_hamming_near_for_similar(spark):
    base = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, " ".join(f"q{i}" for i in range(60)))],
        "doc_id long, text string",
    )
    fp = dedup.simhash(df, "text", "doc_id", hash_mode="fast")
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    ham = lambda a, b: bin(a ^ b).count("1")  # noqa: E731
    assert ham(vals[1], vals[2]) < ham(vals[1], vals[3])


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>")
    cos = df.select(
        similarity.cosine_expr(F.col("embedding"), F.col("embedding")).alias("c")
    ).first()["c"]
    assert abs(cos - 1.0) < 1e-12


def test_multimodal_stub_and_plumbing(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG")
    df = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    out = multimodal.extract_features(multimodal.attach_binary(df, "text")).collect()
    byid = {r["doc_id"]: r for r in out}
    assert byid[1]["n_bytes"] == 5 and byid[1]["first_byte"] == ord("h")
    assert byid[2]["n_bytes"] == 0 and byid[2]["first_byte"] == 0


def test_portable_hash_known_values(spark):
    # pinned values — the DuckDB oracle computes the same fold
    df = spark.createDataFrame([("hello",), ("",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", portable_hash_expr("s").alias("h")).collect()}
    assert got["hello"] == 99162322 and got[""] == 0


def test_lsh_bucket_cap_and_empty_doc_filter(spark):
    # 5 empty docs would share one degenerate band signature; the
    # empty-shingle filter must keep them out of candidate generation
    rows = [(i, "") for i in range(5)]
    base = " ".join(f"w{i}" for i in range(50))
    rows += [(10, base), (11, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.minhash_signature(df, "text", "doc_id", num_hashes=8, hash_mode="fast")
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.lsh_candidate_pairs(sig, "doc_id", num_hashes=8, bands=4).collect()}
    assert pairs == {(10, 11)}
    # a bucket-size cap of 1 drops every bucket with >= 2 members
    capped = dedup.lsh_candidate_pairs(
        sig, "doc_id", num_hashes=8, bands=4, max_bucket_size=1
    ).collect()
    assert capped == []


def test_ngram_jaccard_lsh_matches_exact_on_candidates(spark):
    base = " ".join(f"w{i}" for i in range(50))
    rows = [(1, base), (2, base + " extra"), (3, " ".join(f"z{i}" for i in range(50)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.ngram_jaccard_pairs_lsh(
        df, "text", "doc_id", n=3, threshold=0.3, num_hashes=8, bands=4
    ).collect()
    # near-identical docs found, with the true (exact) jaccard value
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(
                 df.withColumn("blk", F.lit(1)), "text", "doc_id", "blk",
                 n=3, threshold=0.3).collect()}
    got_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got}
    assert (1, 2) in got_pairs
    for p, j in got_pairs.items():
        assert abs(j - exact[p]) < 1e-12  # LSH output is a subset with exact values


def test_ann_lsh_recall_vs_brute_force(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.lsh_bucketed_topk(emb, queries, k=5, dims=64, planes=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"ANN recall@5 {recall} below gate"


def test_cast_nested_udt_mapper_analog(spark):
    # SIT/features/04_udt_mapper analog: rename + cast struct fields,
    # add a new field as typed null, recurse into array-of-struct and map
    df = spark.createDataFrame(
        [
            (1, (7, "a"), [(1, 2.5)], {"k": 3}),
            (2, None, [], {}),
        ],
        "id long, udt struct<num:int, tag:string>, "
        "arr array<struct<x:int, y:double>>, m map<string,int>",
    )
    out = transforms.cast_nested(
        df,
        {
            "udt": "struct<num_l: bigint, tag: string, added: int>",
            "arr": "array<struct<x: string, y: decimal(9,1)>>",
            "m": "map<string, bigint>",
        },
        field_renames={"udt": {"num": "num_l"}},
    )
    assert out.schema["udt"].dataType.simpleString() == (
        "struct<num_l:bigint,tag:string,added:int>"
    )
    assert out.schema["arr"].dataType.simpleString() == (
        "array<struct<x:string,y:decimal(9,1)>>"
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["udt"].num_l == 7 and rows[1]["udt"].tag == "a"
    assert rows[1]["udt"].added is None
    assert rows[1]["arr"][0].x == "1" and str(rows[1]["arr"][0].y) == "2.5"
    assert rows[1]["m"] == {"k": 3}
    assert rows[2]["udt"] is None  # null struct stays null


def test_ann_ivf_recall_vs_brute_force(spark):
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, n_centroids=16, n_probe=4)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall@5 {recall} below gate"


def test_ann_ivf_trained_kmeans(spark):
    """Trained IVF (deterministic spherical k-means, VERDICT r2 #9):
    on a corpus WITH cluster structure, Lloyd iterations never fall
    below the training-free hash-spaced quantizer at n_probe=1 (that
    baseline is already near-perfect here, so >= is the honest bar) and
    keep cells balanced; on the unclustered sf corpus the trained index
    still clears the recall gate (training can't help data with no
    structure, but must not hurt past noise)."""
    import math
    import os

    dims, n_clusters, per = 16, 8, 100
    rows = []
    for c in range(n_clusters):
        center = [math.sin(1.0 + c * 7 + d) * 5 for d in range(dims)]
        for m in range(per):
            vec = [center[d] + math.sin(c * 131 + m * 17 + d * 3) * 0.4
                   for d in range(dims)]
            rows.append((c * per + m, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = emb.where((F.col("vec_id") % per) == 3)  # one query per cluster

    def recall(approx):
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in similarity.brute_force_topk(emb, qs, k=5).collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        return len(exact & a) / len(exact)

    def max_cell_share(cents):
        sizes = similarity.ivf_assign(emb, cents).groupBy("cell").count()
        return max(r["count"] for r in sizes.collect()) / len(rows)

    untrained = recall(similarity.ivf_topk(emb, qs, k=5, n_centroids=8, n_probe=1))
    cents = similarity.kmeans_centroids(emb, n_centroids=8, iters=4)
    trained = recall(similarity.ivf_topk(emb, qs, k=5, n_probe=1, centroids=cents))
    assert trained >= untrained, f"k-means lost recall: {trained} < {untrained}"
    assert trained >= 0.95

    # trained cells stay balanced (perfect would be 1/8 = 0.125)
    assert max_cell_share(cents) <= 0.3

    # non-inferiority on the (unclustered) sf corpus
    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    semb = spark.read.parquet(f"{sf}/embeddings.parquet")
    sqs = semb.where(F.col("vec_id") < 5)
    sexact = {(r["query_id"], r["neighbor_id"])
              for r in similarity.brute_force_topk(semb, sqs, k=5).collect()}
    scents = similarity.kmeans_centroids(semb, n_centroids=16, iters=2)
    sa = {(r["query_id"], r["neighbor_id"])
          for r in similarity.ivf_topk(semb, sqs, k=5, centroids=scents).collect()}
    assert len(sexact & sa) / len(sexact) >= 0.6


def test_multimodal_resize_and_frame_sample(spark):
    with pytest.raises(NotImplementedError):
        multimodal.resize_image(b"\x89PNG", 8, 8)
    df = spark.createDataFrame(
        [(1, "x" * 600), (2, "ab"), (3, "")], "doc_id long, text string"
    )
    wp = multimodal.attach_binary(df, "text")
    resized = {r["doc_id"]: r for r in multimodal.resize_images(wp, 8, 8).collect()}
    assert set(resized) == {1, 2}  # empty payload dropped
    assert len(resized[1]["resized"]) == 64 and len(resized[2]["resized"]) == 64
    assert bytes(resized[2]["resized"]) == b"ab" * 32  # deterministic tiling

    frames = multimodal.sample_frames(wp, every_n=1).collect()
    # doc 1: 600 bytes -> 2 complete 256-byte frames; docs 2,3: none
    assert [(r["doc_id"], r["frame_idx"], r["pts_ms"]) for r in frames] == [
        (1, 0, 0), (1, 1, 40)
    ]
    import hashlib

    assert frames[0]["frame_md5"] == hashlib.md5(b"x" * 256).hexdigest()


def test_webtext_pipeline_plan_shape(spark):
    """The composed prep pipeline must keep its two-shuffle shape:
    one window exchange on the content hash, one rollup exchange on the
    language key — scoring/lang-ID/filter stay fused into the scan."""
    from cassandra_data_migrator_spark.entry_queries import q_webtext_pipeline

    df = q_webtext_pipeline(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    n_shuffles = sum(
        1 for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    )
    assert n_shuffles == 2, plan


def test_webtext_budget_plan_shape(spark):
    """The token-budget prefix sum must stay two-phase: the only
    unbounded-preceding running-sum window over corpus-sized rows is
    partitioned by (lang_pred, quality-bucket), never by lang_pred
    alone — a language-wide window serializes half a web corpus into
    one task (VERDICT r4 #1). lang_pred-alone windows may exist only
    over the tiny per-bucket totals frame (== windows whose child
    aggregates by (lang_pred, _qb) first)."""
    from cassandra_data_migrator_spark.entry_queries import q_webtext_budget

    df = q_webtext_budget(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # every corpus-sized running-sum window must carry the bucket key
    win_specs = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "unboundedpreceding" in ln
    ]
    assert win_specs, plan
    wide = [ln for ln in win_specs if "_qb" in ln and "lang_pred" in ln]
    narrow = [ln for ln in win_specs if "_qb" not in ln and "lang_pred" in ln]
    assert wide, plan  # the within-bucket running sum exists
    # the lang-only window is the bucket-offset scan over SUM(_bt) —
    # per-bucket totals, not document rows
    assert all("_bt" in ln for ln in narrow), plan


def test_pk_render(spark):
    df = spark.createDataFrame(
        [("k1", 5, None), (None, 7, "x")], "a string, b int, c string"
    )
    out = {r["pk_str"] for r in transforms.pk_render(df, ["a", "b", "c"]).collect()}
    assert out == {"[k1 %% 5 %% (null)]", "[(null) %% 7 %% x]"}


def test_asof_join_semantics_and_plan(spark):
    """Inclusive at-or-before match, nulls when no prior right row, a
    NULL right payload still matches, and the plan is the union-window
    shape (one shuffle, never a pair-exploding join)."""
    import datetime

    from cassandra_data_migrator_spark.operators.asof import asof_join

    T = lambda s: datetime.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u", T(5)), (2, "u", T(10)), (3, "u", T(2)), (4, "v", T(9))],
        "eid long, k string, ts timestamp",
    )
    right = spark.createDataFrame(
        [("u", T(5), 50.0), ("u", T(8), None), ("w", T(1), 9.0)],
        "k string, ts timestamp, val double",
    )
    out = asof_join(left, right, ["k"], "ts", {"val": "last_val"},
                    carry_ts_as="match_ts")
    rows = {r["eid"]: (r["match_ts"], r["last_val"]) for r in out.collect()}
    assert rows[1] == (T(5), 50.0)        # inclusive: ts == right ts matches
    assert rows[2] == (T(8), None)        # later right row wins; NULL payload carried
    assert rows[3] == (None, None)        # no prior right row
    assert rows[4] == (None, None)        # key with no right rows at all
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    # AQE prints Final and Initial plans; count the final one only
    final = plan.split("== Initial Plan ==")[0]
    assert sum(1 for ln in final.splitlines()
               if "Exchange hashpartitioning" in ln) == 1, plan


def test_url_canonicalize_edge_cases(spark):
    from cassandra_data_migrator_spark.operators.text import url_canonicalize

    cases = [
        # (raw, expected)
        ("HTTPS://A.COM:443/P?z=1&a=2#frag", "https://a.com/P?a=2&z=1"),
        ("http://B.org:80/", "http://b.org/"),
        ("http://b.org:80", "http://b.org"),
        ("http://c.net:8080/x", "http://c.net:8080/x"),  # non-default port kept
        ("https://D.io/Path/Sub", "https://d.io/Path/Sub"),  # path case kept
        ("https://e.co/p?only=1", "https://e.co/p?only=1"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "u string")
    got = [r["url_canon"] for r in
           url_canonicalize(df, "u").orderBy("u").collect()]
    want = [e for _, e in sorted(cases)]
    assert got == want


def test_ann_ivf_adversarial_ordering_hash_spaced_init(spark):
    """Centroid seeding must not collapse when the FIRST n_centroids
    vectors are duplicates of one document (adversarial id assignment —
    exactly the web-crawl case where a dup swarm lands first): lowest-id
    seeding yields 8 identical centroids, every corpus row ties and
    falls into ONE cell — probe cost becomes a full scan (the IVF
    scale-killer) even where recall survives. The hash-spaced default
    samples across the corpus: cells stay balanced and recall holds."""
    import math

    dims, n_clusters, per = 16, 8, 100
    rows = []
    for c in range(n_clusters):
        center = [math.sin(1.0 + c * 7 + d) * 5 for d in range(dims)]
        for m in range(per):
            # adversarial prefix: ids 0..7 are EXACT duplicates (a dup
            # swarm crawled first); everything else is noisy as usual
            noise = 0.0 if c == 0 and m < 8 else 0.4
            vec = [center[d] + math.sin(c * 131 + m * 17 + d * 3) * noise
                   for d in range(dims)]
            rows.append((c * per + m, [float(x) for x in vec]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    n = len(rows)

    def max_cell_share(cents):
        sizes = similarity.ivf_assign(emb, cents).groupBy("cell").count()
        return max(r["count"] for r in sizes.collect()) / n

    collapsed_cents = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cemb")
    )
    spaced_cents = similarity.spaced_init_rows(
        emb, 8, "vec_id", "embedding"
    ).select(F.col("vec_id").alias("_cid"), F.col("embedding").alias("_cemb"))
    # the scramble must actually escape the adversarial prefix
    spaced_ids = {r["_cid"] for r in spaced_cents.collect()}
    assert not spaced_ids <= set(range(8)), spaced_ids
    collapsed_share = max_cell_share(collapsed_cents)
    spaced_share = max_cell_share(spaced_cents)
    assert collapsed_share > 0.9, collapsed_share  # one cell = full scan
    assert spaced_share < 0.4, (spaced_share, collapsed_share)

    # and recall through the default (spaced) quantizer stays healthy
    qs = emb.where((F.col("vec_id") % per) == 3)  # one query per cluster
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk(emb, qs, k=5).collect()}
    a = {(r["query_id"], r["neighbor_id"])
         for r in similarity.ivf_topk(emb, qs, k=5, n_centroids=8,
                                      n_probe=2).collect()}
    recall = len(exact & a) / len(exact)
    assert recall >= 0.6, f"hash-spaced recall {recall} below gate"


def _uf_components(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in range(n_nodes)}


def _cc_spark(spark, edge_list):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edge_list], "id_a long, id_b long"
    )
    rows = dedup.connected_components(df, "id_a", "id_b").collect()
    return {r.node: r.cluster_id for r in rows}


def test_connected_components_vs_union_find_random(spark):
    import random

    for seed in (7, 41, 1999):
        rng = random.Random(seed)
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randrange(20, 150))
        ]
        want = _uf_components(n, edges)
        got = _cc_spark(spark, edges)
        touched = {a for e in edges for a in e if e[0] != e[1]}
        for node in touched:
            assert got.get(node, node) == want[node], (seed, node)


def test_connected_components_adversarial_chain(spark):
    # a 300-link near-dup chain: min-label flooding would need 300
    # rounds; star contraction must land it well inside max_iters
    edges = [(i, i + 1) for i in range(300)]
    got = _cc_spark(spark, edges)
    for node in range(1, 301):
        assert got[node] == 0
    assert 0 not in got  # root omitted


def test_connected_components_cliques_and_empty(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    got = _cc_spark(spark, edges)
    assert all(got[x] == 0 for x in range(1, 5))
    assert all(got[x] == 10 for x in range(11, 14))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty).count() == 0


def test_pack_sequences_plan_shape_and_values(spark):
    """Packing's global prefix sum must stay two-phase: the only
    partition-less running-sum window operates on the per-bucket totals
    frame (_bt, <=n_buckets rows); the corpus-sized window is
    partitioned by the id-range bucket (_pb). Values: bins are exactly
    the concat-and-chunk spec."""
    from cassandra_data_migrator_spark.entry_queries import q_pack_sequences

    df = q_pack_sequences(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    win_specs = [
        ln for ln in plan.splitlines()
        if "windowspecdefinition" in ln and "unboundedpreceding" in ln
    ]
    assert win_specs, plan
    corpus_wins = [ln for ln in win_specs if "_bt" not in ln]
    assert corpus_wins and all("_pb" in ln for ln in corpus_wins), plan
    rows = sorted(df.collect(), key=lambda r: r.doc_id)
    cum = 0
    for r in rows:
        assert r.bin_id == cum // 512 and r.bin_offset == cum % 512, r
        assert r.spans_next == (cum % 512 + r.n_tokens > 512), r
        cum += r.n_tokens


def test_temperature_sample_rates_and_scramble(spark):
    """alpha=0.5 semantics: smallest language kept whole (rate 1.0),
    dominant language kept at ~sqrt(N_min/N_l); the LCG scramble must
    not be monotone in id (the polynomial-hash pitfall), so kept ids
    spread across the id range rather than forming a prefix."""
    from cassandra_data_migrator_spark.operators.text import temperature_sample

    rows = [(i, "en") for i in range(800)] + [(800 + i, "fi") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert all(r.keep for r in by_lang["fi"])  # rate exactly 1.0
    en = by_lang["en"]
    want = (50 / 800) ** 0.5
    kept = [r.doc_id for r in en if r.keep]
    assert abs(len(kept) / 800 - want) < 0.08
    assert min(kept) < 200 and max(kept) > 600  # spread, not a prefix


def test_bigram_counts_topk_plan_and_values(spark):
    """Top-k must plan as TakeOrderedAndProject (per-partition heap),
    never a global Sort; values are exact adjacent-pair counts."""
    from cassandra_data_migrator_spark.operators.text import bigram_counts

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = bigram_counts(df, "text", top_k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    got = {(r.tok_a, r.tok_b): r.n_pairs for r in out.collect()}
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}


def test_token_quantile_bins_matches_exact_and_stays_histogram_shaped(spark):
    """Bin upper edges must bracket the exact percentile values; every
    Window in the plan sits ABOVE the histogram aggregation (the
    corpus is reduced to (group x bin) counts before any window)."""
    from cassandra_data_migrator_spark.operators.text import token_quantile_bins

    rows = [(i, "en", i % 97 + 1) for i in range(500)] + [
        (1000 + i, "fi", 5) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    out = token_quantile_bins(df, "lang", "n_tokens", bin_width=16)
    got = {r.lang: r for r in out.collect()}
    assert got["fi"].n_docs == 20 and got["fi"].p50_hi == 15
    import math

    vals = sorted(i % 97 + 1 for i in range(500))
    for p in (50, 90, 99):
        exact = vals[math.ceil(p * 500 / 100) - 1]
        hi = got["en"][f"p{p}_hi"]
        assert hi - 15 <= exact <= hi, (p, exact, hi)
    plan = out._jdf.queryExecution().executedPlan().toString()
    first_window = plan.find("Window")
    agg_positions = [
        i for i in range(len(plan)) if plan.startswith("HashAggregate", i)
    ]
    # tree prints top-down: the histogram aggregate must appear BELOW
    # (after, in text order) the windows that consume it
    assert first_window != -1 and any(i > first_window for i in agg_positions), plan


def test_scalar_quantize_roundtrip_bound_and_constant_dim(spark):
    from cassandra_data_migrator_spark.operators.similarity import scalar_quantize

    rows = [
        (0, [0.0, 1.0, -3.5]),
        (1, [10.0, 1.0, 2.5]),
        (2, [5.0, 1.0, -0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.q for r in scalar_quantize(df).collect()}
    # constant dim (all 1.0) -> 0 everywhere
    assert [got[i][1] for i in range(3)] == [0, 0, 0]
    # affine roundtrip within half a quantization step
    spans = [(0.0, 10.0), (1.0, 1.0), (-3.5, 2.5)]
    for vid, vec in rows:
        for d, v in enumerate(vec):
            mn, mx = spans[d]
            if mx == mn:
                continue
            deq = mn + got[vid][d] * (mx - mn) / 127.0
            assert abs(deq - v) <= (mx - mn) / 127.0 / 2 + 1e-9
    assert all(0 <= q <= 127 for qs in got.values() for q in qs)


def test_tombstone_gc_purges_old_deletes_keeps_recent(spark):
    from cassandra_data_migrator_spark.operators.lww import lww_dedup, tombstone_gc

    rows = [
        # key, ts, seq, op — winner per key is the last (ts, seq)
        ("a", "2024-01-10 00:00:00", 1, "D"),   # old delete -> purged
        ("b", "2024-01-20 00:00:00", 2, "D"),   # recent delete -> tombstone
        ("c", "2024-01-05 00:00:00", 3, "U"),   # old upsert -> kept, not tombstone
        ("a", "2024-01-09 00:00:00", 0, "U"),   # loses LWW to the delete
    ]
    df = spark.createDataFrame(rows, "url string, warc_ts string, seq long, op string")
    df = df.withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    win = lww_dedup(df, "url", "warc_ts", "seq")
    out = {r.url: r for r in tombstone_gc(win, "op", "warc_ts", "2024-01-16 00:00:00").collect()}
    assert "a" not in out                       # purged outright
    assert out["b"].is_tombstone is True        # retained as tombstone
    assert out["c"].is_tombstone is False


def test_late_arrival_stats_two_phase_hwm(spark):
    from cassandra_data_migrator_spark.operators.watermark import late_arrival_stats

    # epoch 0: ts 100,200 ; epoch 1: ts 150 (late by 50s), 300 ; epoch 2: all fresh
    def ts(s):
        return f"2024-01-01 00:00:{s:02d}" if s < 60 else f"2024-01-01 00:0{s//60}:{s%60:02d}"

    rows = [
        (0, ts(10)), (0, ts(20)),
        (1, ts(15)), (1, ts(30)),   # ts(15) < hwm(20) -> late by 5s
        (2, ts(40)), (2, ts(50)),
    ]
    df = spark.createDataFrame(rows, "epoch long, warc_ts string").withColumn(
        "warc_ts", F.col("warc_ts").cast("timestamp")
    )
    got = {r.epoch: r for r in late_arrival_stats(df).collect()}
    assert got[0].n_late == 0 and got[0].max_late_us is None
    assert got[1].n_late == 1 and got[1].max_late_us == 5_000_000
    assert got[2].n_late == 0
    assert all(got[e].n_events == 2 for e in (0, 1, 2))


def test_ann_ivf_incremental_partitions_both_sets(spark):
    """Every index and batch row lands in exactly one cell; the batch
    assignment joins against BROADCAST centroids (index never
    re-paired)."""
    from cassandra_data_migrator_spark.entry_queries import q_ann_ivf_incremental

    out = q_ann_ivf_incremental(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    n_index = sum(r.n_index for r in rows)
    n_new = sum(r.n_new for r in rows)
    assert n_index == 450 and n_new == 50  # vec_id % 10 == 7 split of 500
    assert all(0.0 <= r.share_new <= 1.0 for r in rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_span_dedup_first_occurrence_ownership(spark):
    """Every distinct span is awarded to the lowest (doc_id, pos)
    occurrence; later docs repeating it count it dropped. A doc
    shorter than one span still forms exactly one span."""
    from cassandra_data_migrator_spark.operators.text import span_dedup

    s8 = "a b c d e f g h"          # one full span
    uniq = "p q r s t u v w"        # unique full span
    rows = [
        (0, s8 + " " + uniq),       # owns both of its spans
        (1, s8 + " x y"),           # span1 dup of doc 0, span2 ("x y") unique
        (2, "x y"),                 # "x y" already owned by doc 1 pos 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup(df, "text", "doc_id", span_words=8).collect()}
    assert out[0].n_spans == 2 and out[0].n_kept == 2 and out[0].n_dropped == 0
    assert out[1].n_spans == 2 and out[1].n_kept == 1 and out[1].n_dropped == 1
    assert out[2].n_spans == 1 and out[2].n_kept == 0 and out[2].n_dropped == 1
    assert out[1].dup_frac == 0.5 and out[2].dup_frac == 1.0


def test_span_dedup_hot_span_ownership(spark):
    """Every doc repeats one boilerplate span: the lowest doc owns it,
    and docs that own nothing report n_kept = 0."""
    from cassandra_data_migrator_spark.operators.text import span_dedup

    boiler = "home about contact privacy terms login search menu"
    rows = [(0, boiler)]
    rows += [(i, f"{boiler} u{i}a u{i}b") for i in range(1, 6)]
    rows += [(6, boiler), (7, boiler)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = span_dedup(df, "text", "doc_id", span_words=8)
    got = {r.doc_id: (r.n_spans, r.n_kept, r.n_dropped) for r in out.collect()}
    assert got == {0: (1, 1, 0), **{i: (2, 1, 1) for i in range(1, 6)},
                   6: (1, 0, 1), 7: (1, 0, 1)}


def test_doc_chunks_boundary_math_and_mapside_plan(spark):
    """Chunk count = 1 + ceil(max(n - chunk, 0) / stride); the last
    chunk always reaches the document end; successive chunks overlap by
    chunk - stride tokens. Plan stays shuffle-free (pure map-side)."""
    from cassandra_data_migrator_spark.operators.text import doc_chunks

    def words(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(10, words(10)), (32, words(32)), (33, words(33)),
            (56, words(56)), (57, words(57))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = doc_chunks(df, "text", "doc_id", chunk_tokens=32, stride=24)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, plan
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, []).append(r)
    expect_counts = {10: 1, 32: 1, 33: 2, 56: 2, 57: 3}
    for n, cnt in expect_counts.items():
        chunks = sorted(got[n], key=lambda r: r.chunk_id)
        assert len(chunks) == cnt, (n, chunks)
        last = chunks[-1]
        # last chunk reaches the end of the doc
        assert last.chunk_start + last.n_chunk_tokens == n, (n, last)
        for c in chunks:
            assert c.chunk_start == c.chunk_id * 24
            toks = c.chunk_text.split(" ")
            assert len(toks) == c.n_chunk_tokens
            assert toks[0] == f"w{c.chunk_start}"
    # overlap: chunk k repeats the trailing 8 tokens of chunk k-1
    c0, c1 = sorted(got[56], key=lambda r: r.chunk_id)
    assert c0.chunk_text.split(" ")[24:] == c1.chunk_text.split(" ")[:8]


def test_doc_chunks_rejects_stride_outside_window(spark):
    """stride < 1 never advances; stride > chunk_tokens skips tokens and
    starts trailing chunks past the end (negative n_chunk_tokens)."""
    from cassandra_data_migrator_spark.operators.text import doc_chunks

    df = spark.createDataFrame([(3, "a b c")], ["doc_id", "text"])
    for stride in (0, -1, 5):
        with pytest.raises(ValueError, match="stride"):
            doc_chunks(df, "text", "doc_id", chunk_tokens=1, stride=stride)
    # stride == chunk_tokens (no overlap) stays valid
    out = doc_chunks(df, "text", "doc_id", chunk_tokens=1, stride=1).collect()
    assert sorted(r.n_chunk_tokens for r in out) == [1, 1, 1]


def test_train_split_deterministic_stratified_mapside(spark):
    """Split assignment is map-side (no Exchange), deterministic, and
    lands near 90/5/5 on the test corpus."""
    from cassandra_data_migrator_spark.operators.text import train_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = train_split(docs.select("doc_id"), "doc_id")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, plan
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in out.collect()}
    assert a == b
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    frac_val = sum(1 for v in a.values() if v == "val") / n
    frac_test = sum(1 for v in a.values() if v == "test") / n
    assert 0.85 <= frac_train <= 0.95, frac_train
    assert 0.02 <= frac_val <= 0.09, frac_val
    assert 0.02 <= frac_test <= 0.09, frac_test


def test_shuffle_shards_dense_order_and_balance(spark):
    """Within-shard positions are dense 1..count, shard ids live in
    [0, n_shards), and the scramble spreads 500 sequential ids over
    every shard without a degenerate pile-up."""
    from collections import Counter

    from cassandra_data_migrator_spark.operators.text import shuffle_shards

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = shuffle_shards(docs.select("doc_id"), "doc_id", n_shards=16).collect()
    by_shard = {}
    for r in out:
        assert 0 <= r.shard < 16
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    assert len(by_shard) == 16  # 500 ids hit every one of 16 shards
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    sizes = Counter({s: len(p) for s, p in by_shard.items()})
    assert max(sizes.values()) <= 4 * max(1, min(sizes.values()))


def test_host_dup_screen_flags_dup_heavy_host(spark):
    """A host needs BOTH >= min_docs and dup_frac > threshold to be
    flagged; small hosts full of dups stay unflagged."""
    from cassandra_data_migrator_spark.operators.text import host_dup_screen

    rows = (
        [(i, "same text", "spam.example") for i in range(6)]
        + [(10 + i, f"unique {i}", "fresh.example") for i in range(6)]
        + [(20, "dup", "tiny.example"), (21, "dup", "tiny.example")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in host_dup_screen(
        df, "text", "source", min_docs=5, max_dup_frac=0.5
    ).collect()}
    assert out["spam.example"].is_spam and out["spam.example"].n_uniq == 1
    assert out["spam.example"].dup_frac == 5 / 6
    assert not out["fresh.example"].is_spam and out["fresh.example"].dup_frac == 0.0
    assert not out["tiny.example"].is_spam  # 50% dup but only 2 docs


def test_state_diff_four_way_single_shuffle(spark):
    """ADDED/REMOVED/CHANGED/UNCHANGED between two LWW cutoffs from ONE
    aggregation (exactly one Exchange in the plan); keys absent at both
    cutoffs (never present, or delete-winning twice) drop out."""
    from datetime import datetime

    from cassandra_data_migrator_spark.operators.asof import state_diff

    d = datetime
    rows = [
        # unchanged: one early upsert
        ("u_same", d(2024, 1, 2), 1, "U"),
        # changed: upsert before t1, newer upsert between t1 and t2
        ("u_chg", d(2024, 1, 3), 2, "U"),
        ("u_chg", d(2024, 1, 14), 3, "U"),
        # added: first upsert after t1
        ("u_add", d(2024, 1, 15), 4, "U"),
        # removed: upsert before t1, delete wins by t2
        ("u_del", d(2024, 1, 4), 5, "U"),
        ("u_del", d(2024, 1, 16), 6, "D"),
        # absent both sides: only ever a delete
        ("u_gone", d(2024, 1, 5), 7, "D"),
        # absent both sides: first touch after t2
        ("u_late", d(2024, 1, 25), 8, "U"),
    ]
    ev = spark.createDataFrame(rows, ["url", "warc_ts", "seq", "op"])
    out = state_diff(ev, "url", "warc_ts", "seq",
                     "2024-01-11 00:00:00", "2024-01-21 00:00:00")
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)
    assert len(exchanges) == 1, plan
    # the single shuffle is preceded by a map-side partial winner fold
    assert "partial_max" in plan, plan
    got = {r.url: r for r in out.collect()}
    assert set(got) == {"u_same", "u_chg", "u_add", "u_del"}
    assert got["u_same"].status == "UNCHANGED" and got["u_same"].seq_old == 1
    assert got["u_chg"].status == "CHANGED" and (
        got["u_chg"].seq_old, got["u_chg"].seq_new) == (2, 3)
    assert got["u_add"].status == "ADDED" and got["u_add"].seq_old is None
    assert got["u_del"].status == "REMOVED" and got["u_del"].seq_new is None


def test_winnow_shared_substring_guarantee_and_mapside(spark):
    """Winnowing's core guarantee: docs sharing a substring of length
    >= k + window - 1 share at least one sketch entry; a doc shorter
    than k is excluded; the plan is shuffle-free."""
    from cassandra_data_migrator_spark.operators.text import winnow_fingerprint

    shared = "the quick brown fox jumps"   # >> k + w - 1 = 9 chars
    rows = [
        (0, "AAAA " + shared + " BBBB"),
        (1, "zzzz prefix then " + shared + " and a different tail"),
        (2, "unrelated content entirely here"),
        (3, "tiny"),                       # < k chars: excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnow_fingerprint(df, "text", "doc_id", k=6, window=4)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan, plan
    got = {r.doc_id: r for r in out.collect()}
    assert 3 not in got
    s0, s1, s2 = (set(got[i].sketch) for i in range(3))
    assert s0 & s1, "docs sharing a long substring must share a sketch entry"
    for r in got.values():
        assert r.sketch == sorted(set(r.sketch))  # sorted distinct
        assert r.sketch_size == len(r.sketch)


def test_winnow_matches_naive_window_minima(spark):
    """The zip_with doubling chain must equal the naive per-window
    array_min spec (the oracle's formulation), including the m < window
    partial-window tail."""
    from cassandra_data_migrator_spark.functions.hashes import portable_hash_py
    from cassandra_data_migrator_spark.operators.text import winnow_fingerprint

    k, w = 6, 4
    texts = ["abcdef", "abcdefg", "abcdefgh", "abcdefghi",
             "the quick brown fox jumps over the lazy dog"]
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    got = {r.doc_id: r for r in winnow_fingerprint(
        df, "text", "doc_id", k=k, window=w, hash_mode="portable").collect()}
    for i, s in enumerate(texts):
        hs = [portable_hash_py(s[p:p + k]) for p in range(len(s) - k + 1)]
        n_win = max(len(hs) - w + 1, 1)
        expect = sorted({min(hs[j:j + w]) for j in range(n_win)})
        assert got[i].sketch == expect, (s, got[i].sketch, expect)
        assert got[i].n_grams == len(hs)


def test_span_novelty_counts_only_unseen_spans(spark):
    """Arriving docs count a span novel only if NO index doc contains
    it; spans shared with the index are not novel."""
    from cassandra_data_migrator_spark.operators.text import span_novelty

    s1 = "a b c d e f g h"
    s2 = "p q r s t u v w"
    idx = spark.createDataFrame([(0, s1)], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(9, s1 + " " + s2),   # one indexed span + one novel span
         (19, s2)],            # novel (only seen in doc 9, not the index)
        ["doc_id", "text"])
    out = {r.doc_id: r for r in span_novelty(
        new, idx, "text", "doc_id", span_words=8).collect()}
    assert out[9].n_spans == 2 and out[9].n_novel == 1
    assert out[9].novelty_frac == 0.5
    assert out[19].n_spans == 1 and out[19].n_novel == 1


def test_vocab_coverage_known_counts(spark):
    """top-k coverage on a corpus with known token frequencies."""
    from cassandra_data_migrator_spark.operators.text import vocab_coverage

    # 'a' x6, 'b' x3, 'c' x2, 'd' x1 -> total 12; top-2 covers 9
    df = spark.createDataFrame(
        [(0, "a a a b b c"), (1, "a a a b c d")], ["doc_id", "text"])
    r = vocab_coverage(df, "text", top_k=2).collect()[0]
    assert (r.vocab_size, r.covered_tokens, r.total_tokens) == (2, 9, 12)
    assert r.coverage == 9 / 12


def test_conversion_funnel_order_and_single_shuffle(spark):
    """Stages count only strictly after the previous stage; the plan
    has exactly one Exchange (windows + final agg share the key
    partitioning)."""
    import re
    from datetime import datetime

    from cassandra_data_migrator_spark.operators.asof import conversion_funnel

    d = datetime
    rows = [
        # full funnel in order
        (1, d(2024, 1, 1), "view"), (1, d(2024, 1, 2), "click"),
        (1, d(2024, 1, 3), "purchase"),
        # purchase BEFORE click: stage 2 only
        (2, d(2024, 1, 1), "view"), (2, d(2024, 1, 2), "purchase"),
        (2, d(2024, 1, 3), "click"),
        # click with no prior view: stage 0
        (3, d(2024, 1, 1), "click"), (3, d(2024, 1, 2), "purchase"),
        # view only
        (4, d(2024, 1, 5), "view"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = conversion_funnel(
        ev, "user_id", "ts",
        [("view", "view_ts"), ("click", "click_ts"),
         ("purchase", "purchase_ts")],
    )
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 1, plan
    got = {r.user_id: r for r in out.collect()}
    assert got[1].funnel_stage == 3 and got[1].purchase_ts == d(2024, 1, 3)
    assert got[2].funnel_stage == 2 and got[2].purchase_ts is None
    assert got[2].click_ts == d(2024, 1, 3)
    assert got[3].funnel_stage == 0 and got[3].view_ts is None
    assert got[4].funnel_stage == 1
