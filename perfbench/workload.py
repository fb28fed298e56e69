"""One benchmark run: a CDC table fed by a backfill and a live trickle,
read, verified, and used as the base of a corpus-prep pass.

Phases, in order (each one's wall time is measured around the engine's
public call, with the result consumed inside the timed region):

1. backfill — one ``jobs.ingest`` of the whole pre-landed WAL (MoR,
   ``compact_every=8``): ``ingest_events_per_s``; then a batch of
   ``LakeTable.lookup([key])`` calls.
2. trickle — for ``--seconds`` seconds, epochs fall due on a fixed
   open-loop schedule. A closed-loop scheduler moves the due epoch
   directories into the WAL (``os.rename``, only between calls) and
   calls ``jobs.ingest`` again: ``freshness_*``; then a second batch of
   lookups.
3. reads — ``LakeTable.read()`` into a noop sink,
   ``LakeTable.scan_changes`` over the last epoch's ts window:
   ``snapshot_scan_s``, ``changes_scan_s``.
4. verify — ``jobs.validate``: ``validate_s``.
5. untraced runs: a second backfill, of an identical copy of the WAL
   into a fresh lake, and its ``jobs.validate``
   (``ingest_events_per_s`` pools both backfills, ``validate_s`` both
   validates); traced runs: the corpus pass — ``span_dedup``, ``vocab_coverage``,
   ``dedup_minhash_pairs`` and ``ann_lsh_topk`` from
   ``entry_queries.QUERIES`` on the seeded corpus fixture. Then the last
   batch of lookups.

``lookup_*`` pools the three batches. Samples taken at several points
of the run, rather than in one burst, let one slow stretch of a shared
machine move only some of them.

Correctness gates run outside every timed region; see ``gates``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

from cassandra_data_migrator_spark import jobs
from cassandra_data_migrator_spark.config import EngineConfig
from cassandra_data_migrator_spark.entry_queries import ORACLES, QUERIES
from cassandra_data_migrator_spark.sources.lake import LakeTable

from . import walgen

NUM_PARTITIONS = 8       # commit keys per epoch (partition:batch_epoch)
NUM_BUCKETS = 8          # lake hash buckets
COMPACT_EVERY = 8
SCAN_REPS = 3            # snapshot and changes scans per run; the fastest is reported


@dataclass(frozen=True)
class Params:
    backfill_epochs: int
    epoch_events: int
    trickle_epoch_events: int
    trickle_interval_s: float   # open-loop: one epoch falls due every interval
    lookups: int
    corpus_docs: int
    corpus_vecs: int
    lww_strategy: str
    corpus_ops: tuple[str, ...]
    skew_min_rows: int = 10_000

    @property
    def n_keys(self) -> int:
        # key space ≈ n_events / 8 (the package generator's default)
        return max(16, self.backfill_epochs * self.epoch_events // 8)

    def scaled(self, scale: float) -> "Params":
        return dataclasses.replace(
            self,
            backfill_epochs=max(2, round(self.backfill_epochs * scale)),
            epoch_events=max(50, round(self.epoch_events * scale)),
            trickle_epoch_events=max(20, round(self.trickle_epoch_events * scale)),
            lookups=max(3, round(self.lookups * scale)),
            corpus_docs=max(40, round(self.corpus_docs * scale)),
            corpus_vecs=max(40, round(self.corpus_vecs * scale)),
        )


WORKLOADS = {
    # skinny MoR ingest of ~n/8 distinct keys with KB pages: delta write,
    # commit and compaction do most of the work; text corpus ops
    "wide_keys": Params(9, 800, 200, 2.0, 12, 300, 200, "skinny",
                        ("span_dedup", "vocab_coverage")),
    # today's zipf_rank head (53% on one key), short pages, 'auto' LWW:
    # the skew probe and the salted fold do the work, the lake stays
    # small; pair-finding corpus ops
    "hot_key": Params(9, 3000, 750, 2.0, 12, 300, 200, "auto",
                      ("dedup_minhash_pairs", "ann_lsh_topk"), skew_min_rows=100),
}


WARM_LOOKUPS = 3


def warm_up(spark, inp: Inputs, corpus_root: str | None, seed: int) -> None:
    """One full backfill of ``inp`` with the workload's fold, a few
    lookups, one validate, and (when ``corpus_root`` is given) the
    workload's corpus ops on a 20-document fixture there, so the
    measured calls do not pay the JVM's first-use costs of those paths.
    The backfill is full-size because a smaller one takes other paths
    (below ``skew_min_rows`` no epoch is salted). The scans are not
    warmed (NOTES.md)."""
    p = inp.params
    cfg = inp.config()
    jobs.ingest(spark, cfg, compact_every=COMPACT_EVERY, lww_strategy=p.lww_strategy)
    lake = LakeTable(spark, inp.lake)
    for k in range(WARM_LOOKUPS):
        lake.lookup([f"{walgen.URL_PREFIX}{k}"]).collect()
    diff_df, _ = jobs.validate(spark, dataclasses.replace(cfg, run_id=2, prev_run_id=1))
    diff_df.unpersist()
    if corpus_root is not None:
        walgen.generate_corpus(seed, corpus_root, 20, 20)
        for q in p.corpus_ops:
            QUERIES[q](spark, corpus_root).collect()


class RunFailed(Exception):
    """An engine call raised or a correctness gate failed."""


@dataclass
class Ops:
    """Operations attempted and failed: epoch commits, ingest calls,
    lookups, scans, corpus ops and correctness gates."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, cond: bool, what: str) -> None:
        self.attempted += 1
        if not cond:
            self.failed += 1
            self.failures.append(what)


@dataclass
class Inputs:
    root: str
    shape: walgen.Shape
    params: Params
    stats: walgen.WalStats | None = None

    @property
    def wal(self) -> str:
        return os.path.join(self.root, "wal")

    @property
    def pending(self) -> str:
        return os.path.join(self.root, "pending")

    @property
    def corpus(self) -> str:
        return os.path.join(self.root, "corpus")

    @property
    def lake(self) -> str:
        return os.path.join(self.root, "lake")

    @property
    def lineage(self) -> str:
        return os.path.join(self.root, "lineage")

    def config(self) -> EngineConfig:
        return EngineConfig.from_dict(
            dict(
                changelog_path=self.wal,
                lake_path=self.lake,
                lineage_path=self.lineage,
                num_partitions=NUM_PARTITIONS,
                num_buckets=NUM_BUCKETS,
                skew_min_rows=self.params.skew_min_rows,
            )
        )


def make_inputs(root: str, shape: walgen.Shape, p: Params, seed: int, trickle_epochs: int) -> Inputs:
    """Generate one set of inputs into a fresh ``root``."""
    shutil.rmtree(root, ignore_errors=True)
    inp = Inputs(root, shape, p)
    os.makedirs(inp.wal)
    os.makedirs(inp.pending)
    inp.stats = walgen.generate_wal(
        shape, seed, inp.wal, inp.pending, p.backfill_epochs, trickle_epochs,
        p.epoch_events, p.trickle_epoch_events, p.n_keys, NUM_PARTITIONS,
    )
    walgen.generate_corpus(seed, inp.corpus, p.corpus_docs, p.corpus_vecs)
    return inp


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _epoch_dirs(path: str) -> list[str]:
    return sorted(
        (d for d in os.listdir(path) if d.startswith("batch_epoch=")),
        key=lambda d: int(d.split("=", 1)[1]),
    )


def _ts_window(epoch_dir: str) -> tuple[datetime, datetime]:
    """[min, max] warc_ts of one epoch, as naive UTC datetimes."""
    t = pq.read_table(epoch_dir, columns=["warc_ts"]).column("warc_ts")
    lo = t.to_numpy().min().astype("datetime64[us]").astype(datetime)
    hi = t.to_numpy().max().astype("datetime64[us]").astype(datetime)
    return lo, hi


def _dir_parquet_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet")
    )


def snapshot_files(lake: LakeTable) -> list[str]:
    mf = lake.manifest()
    return [
        os.path.join(lake.path, f)
        for store in (mf.base, mf.deltas) for fs in store.values() for f in fs
    ]


@dataclass
class Measured:
    """Raw measurements of one pipeline pass (times in seconds)."""

    backfill_events: int = 0                           # per backfill
    backfills: list = field(default_factory=list)      # wall s of each backfill
    ingest_calls: list = field(default_factory=list)   # (wall s, epochs applied)
    freshness: list = field(default_factory=list)
    generator_late_s: list = field(default_factory=list)
    lookups: list = field(default_factory=list)
    snapshot_scans: list = field(default_factory=list)
    changes_scans: list = field(default_factory=list)
    validates: list = field(default_factory=list)      # wall s of each jobs.validate
    ops_s: dict = field(default_factory=dict)
    ops_rows: dict = field(default_factory=dict)
    write_amp: float = 0.0
    snapshot_bytes: int = 0
    live_rows: int = 0
    epochs_salted: list = field(default_factory=list)
    epochs_applied: list = field(default_factory=list)


def pipeline(spark, inp: Inputs, seed: int, ops: Ops, span=None,
             rerun: Inputs | None = None) -> Measured:
    """Run phases 1-5 on ``inp`` and the correctness gates after them.

    Untraced runs pass ``rerun``, an identical copy of ``inp``: phase 5
    is then a second backfill, of ``rerun`` into its own lake. Without
    it, phase 5 is the corpus pass, and ``span(name)``, when given, is a
    tracer context manager wrapped around the benchmark's own calls of
    the corpus ops. The last batch of lookups follows phase 5."""
    p = inp.params
    m = Measured(backfill_events=p.backfill_epochs * p.epoch_events)
    cfg = inp.config()
    rng = np.random.default_rng(seed + 1)
    present = np.flatnonzero(inp.stats.key_counts)
    keys = [f"{walgen.URL_PREFIX}{k}" for k in rng.choice(present, p.lookups)]
    batches = [list(b) for b in np.array_split(keys, 3)]
    lake = LakeTable(spark, cfg.lake_path)
    run_id = 0

    def ingest(c: EngineConfig) -> jobs.RunResult:
        t0 = time.perf_counter()
        res = jobs.ingest(spark, c, compact_every=COMPACT_EVERY, lww_strategy=p.lww_strategy)
        wall = time.perf_counter() - t0
        m.ingest_calls.append((wall, len(res.epochs_applied)))
        m.epochs_salted += res.epochs_salted
        ops.ok(1 + len(res.epochs_applied))
        return res

    def ingest_next() -> jobs.RunResult:
        """The next ingest call on ``inp``'s lake."""
        nonlocal run_id
        run_id += 1
        res = ingest(dataclasses.replace(cfg, run_id=run_id, prev_run_id=run_id - 1))
        m.epochs_applied += res.epochs_applied
        return res

    def backfilled(res: jobs.RunResult, wal: str) -> None:
        m.backfills.append(m.ingest_calls[-1][0])
        ops.check(len(res.epochs_applied) == len(_epoch_dirs(wal)),
                  "backfill applied every landed epoch once")

    def validate(c: EngineConfig) -> dict:
        t0 = time.perf_counter()
        diff_df, jc = jobs.validate(spark, c)
        m.validates.append(time.perf_counter() - t0)
        diff_df.unpersist()
        return jc

    def lookups(lake: LakeTable, batch: list[str]) -> None:
        got = {}
        for key in batch:
            t0 = time.perf_counter()
            got[key] = lake.lookup([key]).collect()
            m.lookups.append(time.perf_counter() - t0)
            ops.ok()
        check_lookups(lake, got, ops)

    # 1. backfill
    landed = _epoch_dirs(inp.wal)
    backfilled(ingest_next(), inp.wal)
    # write amplification of the backfill: all parquet written under data/
    # (deltas and every compaction's rewrite) over the snapshot it left.
    # Measured here because the trickle's call count, and so its number
    # of compactions, depends on timing.
    backfill_snapshot = sum(os.path.getsize(f) for f in snapshot_files(lake))
    m.write_amp = _dir_parquet_bytes(os.path.join(lake.path, "data")) / backfill_snapshot
    backfill_rows = lake.read().count() if rerun is not None else None
    lookups(lake, batches[0])

    # 2. trickle: open-loop due times, closed-loop ingest calls. The
    # scheduler only sleeps while no epoch is due: reads served in those
    # gaps delayed the next call by a random part of a lookup, which
    # doubled the run-to-run spread of freshness. The interval (2 s) is
    # above a one-epoch call's wall (1.2-1.8 s): at 1 s the calls queued
    # and freshness swung with each run's speed.
    pending = _epoch_dirs(inp.pending)
    t_start = time.perf_counter()
    due = [t_start + (k + 1) * p.trickle_interval_s for k in range(len(pending))]
    moved = 0
    while moved < len(pending):
        now = time.perf_counter()
        if due[moved] > now:
            time.sleep(due[moved] - now)
            now = time.perf_counter()
        first = moved
        while moved < len(pending) and due[moved] <= now:
            os.rename(os.path.join(inp.pending, pending[moved]), os.path.join(inp.wal, pending[moved]))
            m.generator_late_s.append(time.perf_counter() - due[moved])
            moved += 1
        res = ingest_next()
        t_ret = time.perf_counter()
        ops.check(
            sorted(res.epochs_applied) == sorted(int(d.split("=")[1]) for d in pending[first:moved]),
            "trickle call applied exactly the epochs landed before it",
        )
        m.freshness += [t_ret - due[k] for k in range(first, moved)]
    landed += pending
    lookups(lake, batches[1])

    # 3. reads
    ts_lo, ts_hi = _ts_window(os.path.join(inp.wal, landed[-1]))
    for _ in range(SCAN_REPS):
        t0 = time.perf_counter()
        _noop(lake.read())
        m.snapshot_scans.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _noop(lake.scan_changes(ts_lower=ts_lo, ts_upper=ts_hi))
        m.changes_scans.append(time.perf_counter() - t0)
        ops.ok(2)

    # 4. verify
    jc = validate(dataclasses.replace(cfg, run_id=run_id + 1))
    m.snapshot_bytes = sum(os.path.getsize(f) for f in snapshot_files(lake))
    m.live_rows = gates(lake, landed, jc, m.epochs_applied, ops)

    # 5. second backfill and its verify, or corpus pass
    if rerun is not None:
        lake = LakeTable(spark, rerun.lake)
        c = dataclasses.replace(rerun.config(), run_id=1, prev_run_id=0)
        res = ingest(c)
        backfilled(res, rerun.wal)
        jc = validate(dataclasses.replace(c, run_id=2, prev_run_id=1))
        n_rows = gates(lake, _epoch_dirs(rerun.wal), jc, res.epochs_applied, ops)
        ops.check(n_rows == backfill_rows,
                  f"second backfill left {n_rows} live rows, the first {backfill_rows}")
    else:
        results = {}
        for q in p.corpus_ops:
            ctx = span(f"ops.{q}") if span else contextlib.nullcontext()
            t0 = time.perf_counter()
            with ctx:
                sdf = QUERIES[q](spark, inp.corpus)
                rows = sdf.collect()
            m.ops_s[q] = time.perf_counter() - t0
            m.ops_rows[q] = len(rows)
            results[q] = (sdf.columns, [t for _, t in sdf.dtypes], [tuple(r) for r in rows])
            ops.ok()
        check_oracles(inp.corpus, results, ops)
    lookups(lake, batches[2])
    return m


def check_lookups(lake: LakeTable, got: dict, ops: Ops) -> None:
    """Each lookup returned the lake snapshot's row for its key, or none."""
    from pyspark.sql import functions as F

    snap = {
        r[0]: r[1]
        for r in lake.read().where(F.col("url").isin(list(got))).select("url", "seq").collect()
    }
    for key, rows in got.items():
        seqs = [r["seq"] for r in rows]
        ops.check(seqs == ([snap[key]] if key in snap else []),
                  f"lookup({key}) -> seq {seqs}, snapshot has {snap.get(key)}")


def gates(lake, landed, jc, epochs_applied, ops: Ops) -> int:
    """Correctness gates of a verified lake; each violation counts as a
    failed operation. Returns the lake's live rows."""
    missing, mismatch, extra = jc.get("MISSING"), jc.get("MISMATCH"), jc.get("ERROR")
    ops.check(missing == 0 and mismatch == 0 and extra == 0,
              f"validate MISSING={missing} MISMATCH={mismatch} EXTRA={extra}")
    # validate's diff is a full outer join of jobs.expected_state with
    # LakeTable.read(): expected rows = VALID + MISSING + MISMATCH
    live_rows = lake.read().count()
    n_expected = jc.get("VALID") + missing + mismatch
    ops.check(live_rows == n_expected,
              f"live rows {live_rows} == expected_state rows {n_expected}")
    # each landed epoch applied exactly once, under every partition key
    want = {f"{p}:{d.split('=')[1]}" for d in landed for p in range(NUM_PARTITIONS)}
    applied = lake.manifest().applied
    ops.check(len(applied) == len(want) and set(applied) == want,
              f"manifest applied keys {len(applied)} == landed epochs x partitions {len(want)}")
    ops.check(sorted(epochs_applied) == sorted(int(d.split("=")[1]) for d in landed),
              "ingest results applied each landed epoch once")
    return live_rows


def check_oracles(corpus_dir: str, results: dict, ops: Ops) -> None:
    """Each corpus op's output equals its DuckDB ``oracle_sql`` (same
    comparison as ``tools/check_parity.py``: column names, canonical
    types, order-insensitive exact values)."""
    import duckdb

    parity = repo_tool("check_parity")
    con = duckdb.connect()
    try:
        for name in ("documents", "embeddings"):
            path = os.path.join(corpus_dir, f"{name}.parquet")
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        for q, (cols, dtypes, rows) in results.items():
            rel = con.sql(ORACLES[q])
            d_cols, d_rows = list(rel.columns), rel.fetchall()
            ok = (
                sorted(cols) == sorted(d_cols)
                and not parity.type_mismatches(cols, dtypes, d_cols, rel.types)
                and parity.norm_rows(cols, rows) == parity.norm_rows(d_cols, d_rows)
            )
            ops.check(ok, f"corpus op {q} matches its DuckDB oracle ({len(rows)} vs {len(d_rows)} rows)")
    finally:
        con.close()


def repo_tool(name: str):
    """Import ``tools/<name>.py`` of the checkout (``tools`` is not a package)."""
    import importlib.util
    import sys

    mod = sys.modules.get(f"perfbench_tools_{name}")
    if mod is None:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(
            f"perfbench_tools_{name}", os.path.join(root, "tools", f"{name}.py"))
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        sys.modules[spec.name] = mod
    return mod


# ---------------------------------------------------------------- statistics
def tail_percentile(n: int) -> int | None:
    """Highest integer percentile with at least 10 samples beyond it
    (50 at least); None below 20 samples."""
    if n < 20:
        return None
    return int(100 * (1 - 10 / n))


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q, method="linear"))
