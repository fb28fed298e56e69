"""Job entry points — Migrate / DiffData / GuardrailCheck analogs.

Reference lifecycle (``job/Migrate.scala:24-60``, ``job/BaseJob.scala:
62-114``): plan token ranges, register the run, fan ranges out to
executors, per-range copy loop, merge counters, finish. Here the loop is
over ``batch_epoch`` micro-batches of the WAL; within an epoch all key
partitions are applied as one atomic lake commit whose idempotence keys
are the covered ``partition:batch_epoch`` slices. A killed run resumes
by diffing the epoch plan against the manifest's applied keys — the
rerun-pending-ranges logic of ``job/BasePartitionJob.scala:41-58``.

Run with spark-submit:
    spark-submit --py-files cdm_spark.zip -m cassandra_data_migrator_spark.jobs ingest ...
"""

from __future__ import annotations

import argparse
import json
from collections import deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .config import EngineConfig
from .features import apply_features
from .lineage import LineageStore
from .metrics import JobCounter
from .operators.diff import corrections, diff, diff_counters
from .operators.guardrail import guardrail_check, guardrail_flags
from .operators.lww import is_live, lww_dedup, lww_dedup_salted, lww_dedup_skinny
from .sources import changelog as wal
from .sources.lake import LakeTable


@dataclass
class RunResult:
    counters: JobCounter
    epochs_applied: list[int] = field(default_factory=list)
    epochs_skipped: list[int] = field(default_factory=list)
    epochs_salted: list[int] = field(default_factory=list)  # auto LWW skew decisions


# --------------------------------------------------------------------- filters
def apply_origin_filters(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Client-side filters of the reference's scan
    (``OriginSelectStatement.java:104-131``): token-range restriction,
    user WHERE condition, writetime-range filter, column-value skip
    filter — all expressed as Catalyst predicates so they push into the
    parquet scan."""
    if cfg.min_token is not None or cfg.max_token is not None:
        # run restricted to a key-token range (partition.min/max params,
        # OriginSelectByPartitionRangeStatement.java:52-56)
        from .plans.partitions import token_expr

        tok = token_expr(cfg.key_col)
        if cfg.min_token is not None:
            df = df.where(tok >= F.lit(int(cfg.min_token)))
        if cfg.max_token is not None:
            df = df.where(tok <= F.lit(int(cfg.max_token)))
    if cfg.where_condition:
        df = df.where(F.expr(cfg.where_condition))
    if cfg.min_ts:
        df = df.where(F.col(cfg.ts_col) >= F.lit(cfg.min_ts).cast("timestamp"))
    if cfg.max_ts:
        df = df.where(F.col(cfg.ts_col) <= F.lit(cfg.max_ts).cast("timestamp"))
    if cfg.filter_column and cfg.filter_value is not None:
        # case-insensitive trimmed equality => skip (OriginSelectStatement.java:141-151)
        df = df.where(
            F.lower(F.trim(F.col(cfg.filter_column))) != F.lit(cfg.filter_value.lower())
        )
    return df


def origin_rows(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The change rows every job applies: the origin filters, the
    guardrail skip (oversize rows are SKIPPED, not written), then the WAL
    envelope (``partition``, ``batch_epoch``) dropped, after the filters
    so a WHERE may name it."""
    rows = apply_origin_filters(events, cfg)
    if cfg.guardrail_col_size_kb:
        rows = guardrail_flags(rows, cfg.guardrail_col_size_kb).where(
            F.size("_large_cols") == 0
        ).drop("_large_cols")
    return rows.drop("partition", "batch_epoch")


# --------------------------------------------------------------------- ingest
def ingest(
    spark: SparkSession,
    cfg: EngineConfig,
    changelog_df: DataFrame | None = None,
    compact_every: int = 8,
    lww_strategy: str = "skinny",
) -> RunResult:
    """Replay the WAL into the lake table in groups of epochs (Migrate
    analog).

    Consecutive fresh epochs are planned in groups: an epoch joins the
    open group while the group's rows (WAL footer counts, or one
    per-epoch count of a caller-supplied frame) stay within
    ``cfg.epoch_size`` and the group holds fewer than ``compact_every``
    epochs (one, when ``compact_every`` is 0). An epoch larger than
    that budget, and a partially applied epoch, run alone; with
    ``cfg.epoch_size`` at or below the WAL's epoch size every epoch runs
    alone. Each group is one scan, one origin filter, one skew probe,
    one LWW fold, one merge-on-read delta and one commit carrying every
    ``{p}:{e}`` key of its epochs; counters and lineage rows stay per
    epoch. A compaction is due when the applied-epoch count crosses a
    multiple of ``compact_every``: the pipeline drains (the group staged
    behind commits too) and ``compact()`` folds the deltas into the
    base. Example: 9 epochs of 800 events at the default budget and
    ``compact_every=8`` plan as [0-7] and [8]; the commit of [0-7] makes
    the compaction due, [8] commits behind it, then one compaction; the
    closing ``compact()`` is a no-op. Per epoch (``epoch_size=800``) the
    same run commits deltas 0-8, then compacts once.

    ``lww_strategy``: 'skinny' (default — winner-seq agg + AQE-broadcast
    semi join; never sorts/shuffles payload bytes, 5x faster at 10^7-row
    epochs) or 'auto' (per group, a cheap key-count aggregation —
    column-pruned scan, map-side combine, O(distinct keys) shuffle —
    folds with ``lww_dedup_salted`` when one key exceeds
    max(cfg.skew_min_rows, rows/num_partitions), else skinny; every
    epoch of a salted group lands in ``RunResult.epochs_salted``).
    """
    if lww_strategy not in ("skinny", "auto"):
        raise ValueError(f"lww_strategy must be 'skinny' or 'auto', not {lww_strategy!r}")
    # O(epochs) planning (SplitPartitions analog, job/SplitPartitions.java:
    # 32-76): the epochs and their row counts come from the WAL's
    # ``batch_epoch=`` hive directories and parquet footers (metadata
    # only — no event rows read) when this job owns the read; a
    # caller-supplied DataFrame may carry filters the file listing can't
    # see, so that path falls back to a single-column count per epoch
    # (O(epochs) driver rows, never epochs x partitions).
    # The directories are listed BEFORE the scan builds its file index:
    # an epoch that lands in between is then in the index but not in the
    # plan (the next run picks it up), never planned without its files.
    if changelog_df is None:
        epoch_rows = _epochs_from_wal_dirs(cfg.changelog_path)
        events = spark.read.parquet(cfg.changelog_path)
    else:
        events = changelog_df
        epoch_rows = dict(events.groupBy("batch_epoch").count().collect())
    lake = _ensure_lake(spark, cfg, events)
    lin = LineageStore(spark, cfg.lineage_path) if cfg.lineage_path else None
    if lin and cfg.track_run:
        lin.start_run(cfg.run_id, "MIGRATE", cfg.prev_run_id)

    # applied partitions per epoch, parsed from the manifest's commit
    # keys: the unrestricted ``p:e`` keys plus this run's own range keys
    scope = _token_scope(cfg)
    applied_by_epoch: dict[int, set[int]] = {}
    for k in lake.applied_keys():
        if scope and k.endswith(scope):
            k = k[: -len(scope)]
        p, _, e = k.partition(":")
        if p.isdigit() and e.isdigit():
            applied_by_epoch.setdefault(int(e), set()).add(int(p))
    total = JobCounter()
    result = RunResult(counters=total)

    # one (epochs, pending partitions, batch) per commit. Fresh epochs
    # commit whole, keyed over the CONFIGURED partition universe (no data
    # read, no partition filter), in groups: a fresh epoch joins the open
    # group while the group's rows stay within cfg.epoch_size and the
    # group holds fewer than compact_every epochs. A partially applied
    # epoch (a resumed crash, the rerun-pending-ranges case of
    # TrackRun.java:48-71) closes the open group and runs alone: it pays
    # one lazy partition distinct, which the batch_epoch= directory
    # pruning limits to that epoch, and applies the rest in one commit; a
    # fully applied epoch is skipped with zero reads (assumes partition
    # values < num_partitions, which the changelog writer guarantees).
    universe = set(range(cfg.num_partitions))
    max_group = max(compact_every, 1)
    plan: list[tuple[list[int], list[int], DataFrame | None]] = []
    group_rows = None  # rows of the open group of fresh epochs (plan[-1])
    for epoch in sorted(epoch_rows):
        applied_parts = applied_by_epoch.get(epoch, set())
        rows = epoch_rows[epoch]
        if not applied_parts:
            if group_rows is not None and group_rows + rows <= cfg.epoch_size \
                    and len(plan[-1][0]) < max_group:
                plan[-1][0].append(epoch)
                group_rows += rows
            else:
                plan.append(([epoch], sorted(universe), None))
                group_rows = rows
            continue
        group_rows = None
        batch = events.where(F.col("batch_epoch") == F.lit(epoch))
        pending = [] if applied_parts >= universe else sorted(
            {r[0] for r in batch.select("partition").distinct().collect()} - applied_parts
        )
        if pending:
            plan.append(([epoch], pending, batch.where(F.col("partition").isin(pending))))
        else:
            result.epochs_skipped.append(epoch)

    def stage(epochs: list[int], batch: DataFrame | None):
        """Filter, fold and write one group's delta (no commit). The
        counters come per epoch from two Observations: the rows read and
        their max seq, and the rows past the origin filters, counted on a
        private copy of ``batch_epoch`` (``origin_rows`` drops it)."""
        if batch is None:
            batch = events.where(F.col("batch_epoch").isin(epochs))
        ep, seq = F.col("batch_epoch"), F.col(cfg.seq_col)
        obs_read, obs_pass = Observation(), Observation()
        read = [a for e in epochs for a in (F.count(F.when(ep == e, 1)).alias(f"read_{e}"),
                                            F.max(F.when(ep == e, seq)).alias(f"max_seq_{e}"))]
        batch = batch.withColumn("_epoch", ep).observe(obs_read, *read)
        rows = origin_rows(batch, cfg)
        salted = lww_strategy == "auto" and _has_hot_key(rows, cfg)
        passed = [F.count(F.when(F.col("_epoch") == e, 1)).alias(f"passed_{e}") for e in epochs]
        rows = rows.observe(obs_pass, *passed).drop("_epoch")
        if salted:
            winners = lww_dedup_salted(rows, cfg.key_col, cfg.ts_col, cfg.seq_col, cfg.salt_buckets)
        else:
            winners = lww_dedup_skinny(rows, cfg.key_col, cfg.ts_col, cfg.seq_col)
        # config-driven feature steps on the winners (Featureset analog;
        # same pipeline re-applied by expected_state for verification)
        return lake.stage_delta(apply_features(winners, cfg)), obs_read, obs_pass, salted

    def commit(epochs: list[int], parts: list[int], staged_future) -> bool:
        """Publish one staged group, book each epoch's counters and
        lineage; returns whether a compaction is due."""
        staged, obs_read, obs_pass, salted = staged_future.result()
        try:
            lake.commit_staged_delta(staged, [f"{p}:{e}{scope}" for e in epochs for p in parts])
            read, passed = obs_read.get, obs_pass.get
            for e in epochs:
                read_n, max_seq = read[f"read_{e}"], read[f"max_seq_{e}"]
                passed_n = passed[f"passed_{e}"]
                jc = JobCounter()
                jc.add("READ", read_n)
                jc.add("WRITE", passed_n)
                jc.add("SKIPPED", read_n - passed_n)
                total.merge(jc)
                if lin and cfg.track_run:
                    lin.record_batch(cfg.run_id, parts, e, "PASS", jc.as_dict(),
                                     watermark_seq=-1 if max_seq is None else max_seq,
                                     prev_run_id=cfg.prev_run_id)
        except Exception:
            if lin and cfg.track_run:
                for e in epochs:
                    lin.record_batch(cfg.run_id, parts, e, "FAIL", prev_run_id=cfg.prev_run_id)
            raise
        if salted:
            result.epochs_salted.extend(epochs)
        before = len(result.epochs_applied)
        result.epochs_applied.extend(epochs)
        # groups step by several epochs: due when the count crosses a
        # multiple of compact_every
        return bool(compact_every) and \
            len(result.epochs_applied) // compact_every > before // compact_every

    # two-deep group pipeline: group k+1's scan+filter+LWW (the
    # Spark-heavy part) STAGES on a worker thread while group k's
    # manifest commit + lineage run — the serial epoch loop was the
    # measured residual in the N->4N scaling evidence.
    # Commits stay strictly ordered, so resume/exactly-once semantics
    # are unchanged; a staged-but-uncommitted group is an orphan dir.
    # On failure, shutdown waits for a running stage: nothing writes
    # into the lake after ingest has raised.
    pool = ThreadPoolExecutor(max_workers=2)
    inflight: deque = deque()  # (epochs, parts, future)
    try:
        for epochs, parts, batch in plan:
            inflight.append((epochs, parts, pool.submit(stage, epochs, batch)))
            due = False
            while len(inflight) >= 2:
                due |= commit(*inflight.popleft())
            if due:
                # drain before compacting: compaction's manifest swap
                # must not race a staged commit
                while inflight:
                    commit(*inflight.popleft())
                lake.compact()
        while inflight:
            commit(*inflight.popleft())
    finally:
        pool.shutdown(wait=True, cancel_futures=True)

    lake.compact()
    if lin and cfg.track_run:
        lin.end_run(cfg.run_id, "MIGRATE", total.as_dict())
    total.print_final("Migrate")
    return result


def _token_scope(cfg: EngineConfig) -> str:
    """Commit-key suffix of a token-restricted run ("" when unrestricted):
    a run over one token range commits ``p:e@lo..hi``, so a run over
    another range never takes those keys as its own epochs applied."""
    if cfg.min_token is None and cfg.max_token is None:
        return ""
    lo, hi = ("" if v is None else int(v) for v in (cfg.min_token, cfg.max_token))
    return f"@{lo}..{hi}"


def _has_hot_key(rows: DataFrame, cfg: EngineConfig) -> bool:
    """'auto' skew probe, one cheap job: per-key counts (map-side
    combined; only distinct keys shuffle) over the key column alone
    (pruned scan). A key is hot when it exceeds both an absolute floor
    and the per-partition average; then the two-phase salted fold
    bounds reducer fan-in."""
    stats = (
        rows.groupBy(cfg.key_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("mx"), F.sum("_c").alias("tot"))
        .first()
    )
    mx, tot = stats["mx"] or 0, stats["tot"] or 0
    return mx > max(cfg.skew_min_rows, tot / cfg.num_partitions)


def _epochs_from_wal_dirs(path: str) -> dict[int, int]:
    """``{epoch: rows}`` from the WAL's hive layout (``batch_epoch=N``
    dirs), the rows summed from the parquet footers of each dir's data
    files on the driver — pure metadata, zero event rows read, no Spark
    job. Names starting with ``_`` or ``.`` are skipped, as Spark's file
    index skips them. On an object store this is one LIST call plus a
    footer read per file; here it's a local walk."""
    import os

    import pyarrow.parquet as pq

    def visible(name: str) -> bool:
        return not name.startswith(("_", "."))

    epoch_rows = {}
    for name in os.listdir(path):
        if not name.startswith("batch_epoch="):
            continue
        try:
            epoch = int(name.split("=", 1)[1])
        except ValueError:
            continue
        rows = 0
        for root, dirs, files in os.walk(os.path.join(path, name)):
            dirs[:] = filter(visible, dirs)
            rows += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                        for f in filter(visible, files))
        epoch_rows[epoch] = rows
    return epoch_rows


def _ensure_lake(spark: SparkSession, cfg: EngineConfig, events: DataFrame) -> LakeTable:
    # the table's shape is the POST-feature schema (constant/extracted
    # columns exist from the first commit; renames/skips applied)
    base_schema = apply_features(origin_rows(events.limit(0), cfg), cfg).schema
    return LakeTable.create(
        spark,
        cfg.lake_path,
        base_schema,
        key_col=cfg.key_col,
        ts_col=cfg.ts_col,
        seq_col=cfg.seq_col,
        op_col=cfg.op_col,
        num_buckets=cfg.num_buckets,
        ttl_col=cfg.ttl_col,
    )


# --------------------------------------------------------------------- expected fold
def expected_state(events: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Recompute the final table state from the full WAL in one
    declarative fold: per url keep the (warc_ts, seq)-largest event,
    drop it if that winner is a delete. This is the oracle the verify
    phase compares the materialized lake table against."""
    rows = origin_rows(events, cfg)
    folded = apply_features(lww_dedup(rows, cfg.key_col, cfg.ts_col, cfg.seq_col), cfg)
    # the same live-row rule as LakeTable.read — asymmetric filters here
    # would report phantom diffs
    return folded.where(is_live(cfg.op_col))


# --------------------------------------------------------------------- validate
def validate(
    spark: SparkSession,
    cfg: EngineConfig,
    changelog_df: DataFrame | None = None,
) -> tuple[DataFrame, JobCounter]:
    """Replay-and-verify (DiffData analog): recompute expected state,
    full-outer diff against the lake, count VALID/MISSING/MISMATCH, and
    auto-correct the MISSING rows iff ``cfg.autocorrect_missing`` and
    the MISMATCH rows iff ``cfg.autocorrect_mismatch`` (never deleting
    EXTRA rows)."""
    events = changelog_df if changelog_df is not None else spark.read.parquet(cfg.changelog_path)
    lake = LakeTable(spark, cfg.lake_path)
    lin = LineageStore(spark, cfg.lineage_path) if cfg.lineage_path else None
    if lin and cfg.track_run:
        lin.start_run(cfg.run_id, "DIFF_DATA", cfg.prev_run_id)

    expected = expected_state(events, cfg)
    actual = lake.read()
    if cfg.coverage_percent < 100:
        # sampled validation (SplitPartitions.java:66-68, README.md:186):
        # both sides keep only keys whose token falls in the first
        # coverage_percent of the token space, so the diff stays aligned
        from .plans.partitions import coverage_filter

        cov = coverage_filter(cfg.key_col, cfg.coverage_percent)
        expected = expected.where(cov)
        actual = actual.where(cov)
    compare_cols = [c for c in expected.columns if c != cfg.key_col and c in actual.columns]
    d = diff(expected, actual, cfg.key_col, compare_cols, byte_cols=("text", "html"))
    d = d.cache()
    jc = diff_counters(d)

    wanted = {"MISSING": cfg.autocorrect_missing, "MISMATCH": cfg.autocorrect_mismatch}
    found = [s for s in wanted if jc.get(s)]
    fix = [s for s in found if wanted[s]]
    if fix:
        import uuid as _uuid

        # unique key per invocation: LWW corrections are naturally
        # idempotent, so a repeat validate --autocorrect must re-apply
        # (a fixed key would silently no-op yet still report healing)
        res = lake.merge_cow(
            corrections(d, cfg.key_col, fix),
            [f"autocorrect:{cfg.run_id}:{_uuid.uuid4().hex}"],
        )
        if res.committed:
            for s in fix:
                jc.add(f"CORRECTED_{s}", jc.get(s))

    if lin and cfg.track_run:
        left = [s for s in found if not jc.get(f"CORRECTED_{s}")]
        status = "PASS" if not found else ("DIFF" if left else "DIFF_CORRECTED")
        lin.record_batch(cfg.run_id, -1, -1, status, jc.as_dict(), prev_run_id=cfg.prev_run_id)
        lin.end_run(cfg.run_id, "DIFF_DATA", jc.as_dict())
    jc.print_final("DiffData")
    return d, jc


# --------------------------------------------------------------------- guardrail
def guardrail(
    spark: SparkSession, cfg: EngineConfig, changelog_df: DataFrame | None = None
) -> tuple[DataFrame, JobCounter]:
    """Origin-only large-field screen (GuardrailCheck analog) of the rows
    the scan filters pass (no guardrail skip: this job reports them)."""
    events = changelog_df if changelog_df is not None else spark.read.parquet(cfg.changelog_path)
    rows = apply_origin_filters(events, cfg)
    offending, jc = guardrail_check(rows, cfg.guardrail_col_size_kb or 1)
    jc.print_final("GuardrailCheck")
    return offending, jc


# --------------------------------------------------------------------- CLI
def main(argv: list[str] | None = None) -> int:
    from .session import get_spark

    p = argparse.ArgumentParser(prog="cdm-spark")
    p.add_argument(
        "job", choices=["ingest", "validate", "guardrail", "generate", "dedup",
                        "feed", "compact", "vacuum", "changes"]
    )
    p.add_argument("--config", help="JSON config file", default=None)
    p.add_argument("--properties", default=None,
                   help="CDM-style cdm.properties file (spark.cdm.* keys; "
                        "KnownProperties.java analog). Precedence: "
                        "properties < --config JSON < explicit flags")
    p.add_argument("--lake", dest="lake_path")
    p.add_argument("--changelog", dest="changelog_path")
    p.add_argument("--lineage", dest="lineage_path", default="")
    p.add_argument("--events", type=int, default=1_000_000)
    p.add_argument("--epoch-size", type=int, default=100_000)
    p.add_argument("--autocorrect", action="store_true",
                   help="validate: correct MISSING and MISMATCH rows")
    p.add_argument("--coverage-percent", dest="coverage_percent", type=int, default=None)
    p.add_argument("--min-token", dest="min_token", type=int, default=None)
    p.add_argument("--max-token", dest="max_token", type=int, default=None)
    p.add_argument("--ttl-col", dest="ttl_col", default=None)
    # run tracking + strategy + filters — the KnownProperties.java:26-498
    # surface a second run actually needs from the command line
    p.add_argument("--run-id", dest="run_id", type=int, default=None,
                   help="lineage run id (trackRun.runId analog)")
    p.add_argument("--prev-run-id", dest="prev_run_id", type=int, default=None,
                   help="resume bookkeeping against this earlier run")
    p.add_argument("--no-track-run", dest="track_run", action="store_false",
                   default=None, help="disable run-details lineage writes")
    p.add_argument("--lww-strategy", dest="lww_strategy",
                   choices=["skinny", "auto"], default="skinny")
    p.add_argument("--where", dest="where_condition", default=None,
                   help="user WHERE condition pushed into the scan")
    p.add_argument("--filter-column", dest="filter_column", default=None)
    p.add_argument("--filter-value", dest="filter_value", default=None)
    p.add_argument("--guardrail-kb", dest="guardrail_col_size_kb", type=int,
                   default=None, help="skip rows with any column larger than this")
    p.add_argument("--index", dest="index_dir", default=None,
                   help="dedup: signature-index directory (grows per batch)")
    p.add_argument("--pairs", dest="pairs_dir", default=None,
                   help="dedup: candidate-pair output directory")
    p.add_argument("--checkpoint", dest="checkpoint_dir", default=None,
                   help="dedup/feed: streaming checkpoint directory")
    p.add_argument("--feed", dest="feed_dir", default=None,
                   help="feed: change-data-feed output directory")
    p.add_argument("--state-ttl-ms", dest="state_ttl_ms", type=int,
                   default=None,
                   help="feed: event-time state TTL for cold-key eviction")
    p.add_argument("--retain-last", dest="retain_last", type=int, default=1,
                   help="vacuum: keep this many newest snapshot versions")
    p.add_argument("--since", dest="since_ts", default=None,
                   help="changes: inclusive ts lower bound (ISO timestamp "
                        "or integer, matching the table's ts column type)")
    p.add_argument("--until", dest="until_ts", default=None,
                   help="changes: inclusive ts upper bound")
    p.add_argument("--out", dest="out_dir", default=None,
                   help="changes: also write the window to this parquet dir")
    args = p.parse_args(argv)

    d = {}
    if args.properties:
        pcfg = EngineConfig.from_properties(args.properties)
        from dataclasses import asdict

        # keep non-default fields AND the extra dict (unmapped
        # spark.cdm.* keys — the feature pipeline reads them)
        defaults = asdict(EngineConfig())
        d = {k: v for k, v in asdict(pcfg).items() if v != defaults.get(k)}
    if args.config:
        with open(args.config) as f:
            d.update(json.load(f))
    for k in ("lake_path", "changelog_path", "lineage_path",
              "coverage_percent", "min_token", "max_token", "ttl_col",
              "run_id", "prev_run_id", "track_run", "where_condition",
              "filter_column", "filter_value", "guardrail_col_size_kb"):
        v = getattr(args, k)
        if v is not None and v != "":
            d[k] = v
    if args.autocorrect:
        d["autocorrect_missing"] = d["autocorrect_mismatch"] = True
    d.setdefault("epoch_size", args.epoch_size)
    cfg = EngineConfig.from_dict(d)
    spark = get_spark("cdm-spark-" + args.job)

    if args.job == "generate":
        df = wal.changelog(spark, args.events, epoch_size=cfg.epoch_size,
                           num_partitions=cfg.num_partitions)
        wal.write_changelog(df, cfg.changelog_path)
    elif args.job == "ingest":
        ingest(spark, cfg, lww_strategy=args.lww_strategy)
    elif args.job == "validate":
        validate(spark, cfg)
    elif args.job == "guardrail":
        guardrail(spark, cfg)
    elif args.job == "dedup":
        # incremental near-dup detection over the WAL: each drained
        # micro-batch pairs only against earlier batches' signatures
        from .streaming.dedup import stream_dedup

        if not (args.index_dir and args.pairs_dir and args.checkpoint_dir):
            p.error("dedup requires --index, --pairs and --checkpoint")
        stream_dedup(
            spark, cfg, args.checkpoint_dir, args.index_dir, args.pairs_dir
        )
        try:
            n = spark.read.parquet(args.pairs_dir).count()
        except Exception:  # no batch emitted any pair -> nothing written
            n = 0
        print(f"Final Candidate Pair Count: {n}")
    elif args.job == "feed":
        # materialize the LWW change feed: per micro-batch, the keys
        # whose winner changed, idempotent per checkpoint (batch_id= overwrite)
        from .streaming.stateful import stream_feed

        if not (args.feed_dir and args.checkpoint_dir):
            p.error("feed requires --feed and --checkpoint")
        stream_feed(spark, cfg, args.checkpoint_dir, args.feed_dir,
                    state_ttl_ms=args.state_ttl_ms)
        try:
            n = spark.read.parquet(args.feed_dir).count()
        except Exception:  # no batch emitted any update
            n = 0
        print(f"Final Feed Update Count: {n}")
    elif args.job == "compact":
        res = LakeTable(spark, cfg.lake_path).compact()
        print(f"Final Compacted Bucket Count: {res.buckets_rewritten}")
    elif args.job == "vacuum":
        lake = LakeTable(spark, cfg.lake_path)
        n = lake.vacuum(retain_last=args.retain_last)
        print(f"Final Vacuumed File Count: {n}")
        print(f"Final Retained Version Count: {len(lake.versions())}")
    elif args.job == "changes":
        # pull-based incremental consumer: committed row versions in a
        # ts window, file-skipped via manifest footer stats (the batch
        # counterpart of the streaming `feed` job)
        lake = LakeTable(spark, cfg.lake_path)
        df = lake.scan_changes(
            ts_lower=_parse_ts_bound(args.since_ts),
            ts_upper=_parse_ts_bound(args.until_ts),
        )
        if args.out_dir:
            df.write.mode("overwrite").parquet(args.out_dir)
            df = spark.read.parquet(args.out_dir)
        print(f"Final Changed Record Count: {df.count()}")
        bound = lake.row_count_bound()
        if bound is not None:
            print(f"Final Snapshot Row Bound: {bound}")
    return 0


def _parse_ts_bound(s: str | None):
    """CLI ts bound: integer epoch/sequence value or ISO timestamp."""
    if s is None or s == "":
        return None
    try:
        return int(s)
    except ValueError:
        from datetime import datetime

        return datetime.fromisoformat(s)


if __name__ == "__main__":
    raise SystemExit(main())
