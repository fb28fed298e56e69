"""Benchmark harness: headline queries + CDC replay throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints two JSON lines: the full result,
then a short line (every key but ``query_runs_sec``, plus the substrate
probe's ``probe.cpu_s`` and ``probe.membw_gbps``) that fits in the last
2,000 characters of stdout, so a reader of the output tail can parse it:
  {"metric": "cdc_events_per_sec", "value": N, "unit": "events/sec",
   "queries": {name: seconds, ...}, "sf": 0.1, "probe.cpu_s": ..., ...}

The headline metric is the north rule's change-events/sec applied
end-to-end (WAL generation excluded; ingest = LWW dedup + idempotent
lake commits + final compaction). Query timings use the fast (xxhash64)
hash mode — the portable polynomial hash exists only for oracle parity.

Scaling evidence (N vs 4N cores): tools/bench_scaling.py runs this same
ingest at two parallelism levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from cassandra_data_migrator_spark.config import EngineConfig  # noqa: E402
from cassandra_data_migrator_spark.entry_queries import QUERIES, t  # noqa: E402
from cassandra_data_migrator_spark.operators import dedup, similarity  # noqa: E402
from cassandra_data_migrator_spark.operators import text as textops  # noqa: E402
from cassandra_data_migrator_spark.session import get_spark  # noqa: E402
from cassandra_data_migrator_spark.sources import changelog as wal  # noqa: E402
from cassandra_data_migrator_spark.sources.lake import LakeTable  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# ~8M events at sf0.1; scales linearly with sf. Epochs are sized to the
# 10^10-event regime shape (~10^6+ events each) so per-epoch work
# dominates per-epoch fixed cost — the same reason a real cluster sizes
# micro-batches in the millions.
_EVENTS_PER_SF = 80_000_000


def _sf() -> float:
    name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return 0.1


def bench_cdc_replay(
    spark,
    n_events: int,
    epoch_size: int,
    wal_dir: str | None = None,
    limit_epochs: int | None = None,
) -> tuple[float, int]:
    """End-to-end replay throughput: parquet WAL -> epochs -> LWW ->
    MoR commits -> compaction. Returns (seconds, events). The WAL is
    materialized to parquet outside the timed window (the realistic
    pipeline shape: the commitlog already sits on storage)."""
    if wal_dir is None:
        wal_dir = tempfile.mkdtemp(prefix="cdm_bench_wal_") + "/wal"
        df = wal.changelog(
            spark, n_events, epoch_size=epoch_size, num_partitions=CPUS, slices=CPUS * 4
        )
        wal.write_changelog(df, wal_dir)
    ev = spark.read.parquet(wal_dir)
    if limit_epochs is not None:
        ev = ev.where(F.col("batch_epoch") < limit_epochs)
        n_events = min(n_events, limit_epochs * epoch_size)
    workdir = tempfile.mkdtemp(prefix="cdm_bench_")
    cfg = EngineConfig.from_dict(
        dict(
            lake_path=f"{workdir}/lake",
            lineage_path=f"{workdir}/lineage",
            epoch_size=epoch_size,
            num_partitions=CPUS,
            num_buckets=max(32, CPUS),
        )
    )
    from cassandra_data_migrator_spark.jobs import ingest

    t0 = time.time()
    ingest(spark, cfg, changelog_df=ev, compact_every=8)
    dt = time.time() - t0
    # verify the replay actually landed (not part of the timing)
    n_keys = LakeTable(spark, cfg.lake_path).read().count()
    assert n_keys > 0
    shutil.rmtree(workdir, ignore_errors=True)
    return dt, n_events


def headline_queries(spark) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Per-query wall seconds: (best-of-3 minima, full per-round spreads)."""
    docs = t(spark, SF_DIR, "documents")
    emb = t(spark, SF_DIR, "embeddings")

    cases = {
        "tpch_q1": lambda: QUERIES["tpch_q1"](spark, SF_DIR),
        "tpch_q3": lambda: QUERIES["tpch_q3"](spark, SF_DIR),
        "tpch_q5": lambda: QUERIES["tpch_q5"](spark, SF_DIR),
        "tpch_q6": lambda: QUERIES["tpch_q6"](spark, SF_DIR),
        "tpch_q10": lambda: QUERIES["tpch_q10"](spark, SF_DIR),
        "cdc_lww_latest": lambda: QUERIES["cdc_lww_latest"](spark, SF_DIR),
        "diff_status": lambda: QUERIES["diff_status"](spark, SF_DIR),
        "sessionize": lambda: QUERIES["sessionize"](spark, SF_DIR),
        "dedup_minhash_fast": lambda: dedup.lsh_candidate_pairs(
            dedup.minhash_signature(docs, "text", "doc_id", num_hashes=16, hash_mode="fast"),
            "doc_id",
            num_hashes=16,
            bands=8,
        ),
        "dedup_simhash_fast": lambda: dedup.simhash_near_pairs(
            dedup.simhash(docs, "text", "doc_id", bits=32, hash_mode="fast"), "doc_id"
        ),
        "ann_topk": lambda: similarity.brute_force_topk(
            emb, emb.where(F.col("vec_id") < 5), k=5
        ),
        "ann_lsh_topk": lambda: similarity.lsh_bucketed_topk(
            emb, emb.where(F.col("vec_id") < 5), k=5
        ),
        # headline near-dup path = LSH-bucket-blocked exact cosine (the
        # 100 TB shape)
        "embed_cosine_pairs_lsh": lambda: similarity.cosine_near_pairs(
            emb.withColumn(
                "_bkt", similarity.hyperplane_bucket_expr("embedding", 64, 4)
            ),
            threshold=0.5,
            block_col="_bkt",
        ),
        "ngram_jaccard_lsh_fast": lambda: dedup.ngram_jaccard_pairs_lsh(
            docs, "text", "doc_id", n=3, threshold=0.12,
            num_hashes=8, bands=4, hash_mode="fast",
        ),
        "quality_score": lambda: QUERIES["quality_score"](spark, SF_DIR),
        "lang_id": lambda: QUERIES["lang_id"](spark, SF_DIR),
        "multimodal_meta": lambda: QUERIES["multimodal_meta"](spark, SF_DIR),
        "dedup_incremental": lambda: QUERIES["dedup_incremental"](spark, SF_DIR),
        "webtext_pipeline": lambda: QUERIES["webtext_pipeline"](spark, SF_DIR),
        "webtext_budget": lambda: QUERIES["webtext_budget"](spark, SF_DIR),
        "webtext_full_prep": lambda: QUERIES["webtext_full_prep"](spark, SF_DIR),
        "asof_state": lambda: QUERIES["asof_state"](spark, SF_DIR),
        "pack_sequences": lambda: QUERIES["pack_sequences"](spark, SF_DIR),
        "token_quantiles": lambda: QUERIES["token_quantiles"](spark, SF_DIR),
        "bigram_counts": lambda: QUERIES["bigram_counts"](spark, SF_DIR),
        "embed_quantize": lambda: QUERIES["embed_quantize"](spark, SF_DIR),
        "tombstone_gc": lambda: QUERIES["tombstone_gc"](spark, SF_DIR),
        "late_events": lambda: QUERIES["late_events"](spark, SF_DIR),
        # fast-hash (xxhash64) variants: the 100 TB path; the registry
        # rows use the portable hash only for oracle parity
        "span_dedup_fast": lambda: textops.span_dedup(
            docs, "text", "doc_id", span_words=8, hash_mode="fast"
        ),
        "winnow_fast": lambda: textops.winnow_fingerprint(
            docs, "text", "doc_id", hash_mode="fast"
        ),
        "funnel": lambda: QUERIES["funnel"](spark, SF_DIR),
        "shuffle_shards": lambda: QUERIES["shuffle_shards"](spark, SF_DIR),
        "state_diff": lambda: QUERIES["state_diff"](spark, SF_DIR),
    }
    # best-of-3, INTERLEAVED rounds (round-robin over all queries three
    # times, min per query): the sandbox's ±40% timing noise drifts on
    # multi-second scales, so interleaving decorrelates a slow phase from
    # any single query — same protocol tools/bench_scaling.py already uses.
    # The full per-round spread is returned alongside the minima so
    # round-over-round query deltas are as noise-robust as the headline.
    # Each query is forced by a noop write, not count(): count() lets the
    # optimizer prune every column it does not need, and the work that
    # computes them (span_dedup's ownership window, say) with it.
    spreads: dict[str, list[float]] = {name: [] for name in cases}
    for _round in range(3):
        for name, mk in cases.items():
            t0 = time.time()
            mk().write.format("noop").mode("overwrite").save()
            spreads[name].append(round(time.time() - t0, 3))
    return {name: min(ts) for name, ts in spreads.items()}, spreads


def report_lines(result: dict, probe: dict) -> list[str]:
    """The full result line, then the short last line: the result without
    the per-query spreads, plus the substrate probe."""
    short = {k: v for k, v in result.items() if k != "query_runs_sec"}
    short.update({k: round(v, 4) for k, v in probe.items()})
    return [json.dumps(result), json.dumps(short)]


def main() -> int:
    sf = _sf()
    spark = get_spark(
        "cdm-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    # replay first: its throughput is the headline metric and must not
    # inherit cache/GC pressure from the query sweep
    n_events = max(100_000, int(_EVENTS_PER_SF * sf))
    epoch_size = max(100_000, n_events // 8)
    # materialize the WAL once (untimed), reuse for warm-up + both runs
    wal_dir = tempfile.mkdtemp(prefix="cdm_bench_wal_") + "/wal"
    wal.write_changelog(
        wal.changelog(spark, n_events, epoch_size=epoch_size,
                      num_partitions=CPUS, slices=CPUS * 4),
        wal_dir,
    )
    # warm-up replay (first epoch only) absorbs one-time JVM/codegen
    # costs; the timed window is BEST-OF-3 full replays with the per-run
    # spread recorded — the sandbox has ±40% run-to-run Spark noise
    # (CLAUDE.md invariant), so a single sample is not evidence
    bench_cdc_replay(spark, n_events, epoch_size, wal_dir=wal_dir, limit_epochs=1)
    runs: list[float] = []
    n = n_events
    for _ in range(3):
        sec, n = bench_cdc_replay(spark, n_events, epoch_size, wal_dir=wal_dir)
        runs.append(round(sec, 3))
    cdc_sec = min(runs)
    shutil.rmtree(os.path.dirname(wal_dir), ignore_errors=True)
    spark.catalog.clearCache()
    qtimes, qspreads = headline_queries(spark)
    qtimes["cdc_replay"] = round(cdc_sec, 3)
    qspreads["cdc_replay"] = runs
    result = {
        "metric": "cdc_events_per_sec",
        "value": round(n / cdc_sec, 1),
        "unit": "events/sec",
        "queries": qtimes,
        "query_runs_sec": qspreads,
        "sf": sf,
        "cpus": CPUS,
        "cdc_events": n,
        "cdc_runs_sec": runs,
        "protocol": "best-of-3 (per-query and replay spreads recorded; queries interleaved)",
    }
    from perfbench.traced import probe_substrate

    for line in report_lines(result, probe_substrate()):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
