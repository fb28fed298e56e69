"""The traced run: the same pipeline with spans around every layer's public
calls, the Spark event log on, per-epoch scan and fold replays, and a
substrate probe. Produces the per-layer metrics; end-to-end numbers come
only from untraced runs."""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from cassandra_data_migrator_spark import jobs
from cassandra_data_migrator_spark.lineage import LineageStore
from cassandra_data_migrator_spark.operators.lww import lww_dedup_salted, lww_dedup_skinny
from cassandra_data_migrator_spark.sources.lake import LakeTable

from .trace import Tracer, event_log_counters
from .workload import COMPACT_EVERY, Inputs, Ops, _noop, pipeline, repo_tool, snapshot_files

def _sizes(root: str, rels) -> int:
    return sum(os.path.getsize(os.path.join(root, r)) for r in rels)


def _manifest_files(mf, which: str) -> set[str]:
    return {f for fs in getattr(mf, which).values() for f in fs}


class LayerProbe:
    """Counts gathered by the wrappers' before/after hooks."""

    def __init__(self):
        self.manifest_bytes: list[int] = []
        self.delta_base: list[float] = []
        self.compact = []      # (buckets rewritten, bytes read, bytes written)
        self.staged = []       # (files, bytes)
        self.lookup_files: list[int] = []
        self.changes_files: list[int] = []

    def targets(self):
        return [
            (jobs, "ingest", "jobs.ingest", None, None),
            (jobs, "validate", "jobs.validate", None, None),
            (LakeTable, "stage_delta", "lake.stage_delta", None, self._after_stage),
            (LakeTable, "commit_staged_delta", "lake.commit", None, self._after_commit),
            (LakeTable, "compact", "lake.compact", self._before_compact, self._after_compact),
            (LakeTable, "read", "lake.read", None, None),
            (LakeTable, "lookup", "lake.lookup", None, self._after_lookup),
            (LakeTable, "scan_changes", "lake.scan_changes", None, self._after_changes),
            (LineageStore, "record_batch", "lineage.record_batch", None, None),
        ]

    def _after_stage(self, sp, args, staged, _):
        rels = [f for fs in staged["files"].values() for f in fs]
        self.staged.append((len(rels), _sizes(args[0].path, rels)))

    def _after_commit(self, sp, args, res, _):
        lake = args[0]
        mf = lake.manifest()
        self.manifest_bytes.append(
            os.path.getsize(os.path.join(lake.path, "_manifests", f"v{mf.version:08d}.json")))
        base = _sizes(lake.path, _manifest_files(mf, "base"))
        if base:
            self.delta_base.append(_sizes(lake.path, _manifest_files(mf, "deltas")) / base)

    def _before_compact(self, args):
        mf = args[0].manifest()
        return _manifest_files(mf, "base"), _manifest_files(mf, "deltas")

    def _after_compact(self, sp, args, res, pre):
        lake = args[0]
        base0, deltas0 = pre
        if not res.committed:
            return
        new = _manifest_files(lake.manifest(), "base") - base0
        self.compact.append((res.buckets_rewritten, _sizes(lake.path, base0 | deltas0),
                             _sizes(lake.path, new)))

    def _after_lookup(self, sp, args, df, _):
        self.lookup_files.append(len(df.inputFiles()))

    def _after_changes(self, sp, args, df, _):
        self.changes_files.append(len(df.inputFiles()))


def replay_scan_and_fold(spark, inp: Inputs, salted: set[int], tracer: Tracer) -> dict:
    """Per epoch, ``jobs.apply_origin_filters`` and the fold ingest chose
    for it, each into a noop sink (the fold time includes its scan)."""
    cfg = inp.config()
    events = spark.read.parquet(cfg.changelog_path)
    epochs = sorted(r[0] for r in events.select("batch_epoch").distinct().collect())
    out = dict(scan_s=0.0, rows_read=0, rows_passed=0, fold_s=0.0, rows_out=0,
               scan_spans=[], fold_spans=[])
    for e in epochs:
        o_in, o_pass, o_out = Observation(), Observation(), Observation()
        batch = events.where(F.col("batch_epoch") == e).observe(o_in, F.count(F.lit(1)).alias("n"))
        filtered = jobs.apply_origin_filters(batch, cfg).observe(o_pass, F.count(F.lit(1)).alias("n"))
        with tracer.span("scan.filter") as sp:
            _noop(filtered)
        out["scan_s"] += sp.dur
        out["scan_spans"].append(sp.id)
        out["rows_read"] += o_in.get["n"]
        out["rows_passed"] += o_pass.get["n"]
        src = jobs.apply_origin_filters(events.where(F.col("batch_epoch") == e), cfg)
        src = src.drop("partition", "batch_epoch")
        if e in salted:
            folded = lww_dedup_salted(src, cfg.key_col, cfg.ts_col, cfg.seq_col, cfg.salt_buckets)
        else:
            folded = lww_dedup_skinny(src, cfg.key_col, cfg.ts_col, cfg.seq_col)
        with tracer.span("lww.fold") as sp:
            _noop(folded.observe(o_out, F.count(F.lit(1)).alias("n")))
        out["fold_s"] += sp.dur
        out["fold_spans"].append(sp.id)
        out["rows_out"] += o_out.get["n"]
    return out


def probe_substrate() -> dict:
    """cpu and memory-bandwidth probe of ``tools/bench_scaling.py``, one
    process each (3 s of md5 chains, 3 s of 64 MiB copies)."""
    bs = repo_tool("bench_scaling")
    t0 = time.perf_counter()
    md5 = bs._burn_md5(None)
    cpu_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    copies = bs._burn_memcpy(None)
    mem_wall = time.perf_counter() - t0
    return {
        "probe.cpu_s": cpu_wall / md5 * 1e6,             # seconds per 1M chained md5
        "probe.membw_gbps": copies * 2 * 64 * 2**20 / mem_wall / 1e9,  # read + write
    }


def traced_run(spark, inp: Inputs, untraced_inp: Inputs, seed, ops: Ops,
               log_dir: str, run_id: str) -> tuple[dict, dict]:
    """Returns (per-layer metrics, detail)."""
    # untraced reference ingest of the same backfill (for trace overhead)
    cfg_u = untraced_inp.config()
    t0 = time.perf_counter()
    jobs.ingest(spark, cfg_u, compact_every=COMPACT_EVERY, lww_strategy=inp.params.lww_strategy)
    untraced_ingest_s = time.perf_counter() - t0

    tracer = Tracer(spark, run_id)
    probe = LayerProbe()
    with tracer.patched(probe.targets()):
        m = pipeline(spark, inp, seed, ops, span=tracer.span)
    replay = replay_scan_and_fold(spark, inp, set(m.epochs_salted), tracer)
    substrate = probe_substrate()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return per_layer(tracer, probe, m, replay, substrate, untraced_ingest_s, log_dir, inp, spark)


def per_layer(tracer, probe, m, replay, substrate, untraced_ingest_s, log_dir, inp, spark):
    counters = event_log_counters(log_dir)

    def total(name):
        return sum(s.dur for s in tracer.by_name(name))

    def bytes_of(spans, key):
        return sum(counters.get(s, {}).get(key, 0) for s in spans)

    def under(name):
        """ids of spans named ``name`` and all their descendants"""
        ids = {s.id for s in tracer.by_name(name)}
        grew = True
        while grew:
            kids = {s.id for s in tracer.spans if s.parent in ids} - ids
            ids |= kids
            grew = bool(kids)
        return ids

    ingests = tracer.by_name("jobs.ingest")
    ingest_wall = sum(s.dur for s in ingests)
    plan_s, self_s, covered_s = 0.0, 0.0, 0.0
    for sp in ingests:
        kids = tracer.children(sp)
        plan_s += (min(k.start for k in kids) - sp.start) if kids else sp.dur
        cov, own = tracer.self_time(sp)
        covered_s += cov
        self_s += own
    n_commits = len(probe.manifest_bytes)
    compact_s = total("lake.compact")
    lake = LakeTable(spark, inp.lake)
    first_backfill = ingests[0].dur
    L = {
        "lake.compact.s": compact_s,
        "lake.compact.calls": len(tracer.by_name("lake.compact")),
        "lake.compact.buckets_rewritten": sum(c[0] for c in probe.compact),
        "lake.compact.bytes_read": sum(c[1] for c in probe.compact),
        "lake.compact.bytes_written": sum(c[2] for c in probe.compact),
        "lake.compact.share": compact_s / ingest_wall,
        "lake.delta_base_ratio_peak": max(probe.delta_base) if probe.delta_base else 0.0,
        "lake.snapshot_files": len(snapshot_files(lake)),
        "lake.lookup.files_touched": sum(probe.lookup_files) / max(1, len(probe.lookup_files)),
        "lake.changes.files_read": sum(probe.changes_files) / max(1, len(probe.changes_files)),
        "lake.stage_delta.s": total("lake.stage_delta"),
        "lake.stage_delta.calls": len(tracer.by_name("lake.stage_delta")),
        "lake.stage_delta.files": sum(s[0] for s in probe.staged),
        "lake.stage_delta.bytes": sum(s[1] for s in probe.staged),
        "lake.stage_delta.shuffle_bytes": bytes_of(under("lake.stage_delta"), "shuffle_bytes"),
        "lake.stage_delta.spill_bytes": bytes_of(under("lake.stage_delta"), "spill_bytes"),
        "lake.commit.s": total("lake.commit"),
        "lake.commit.calls": n_commits,
        "lake.manifest_bytes": probe.manifest_bytes[-1] if probe.manifest_bytes else 0,
        "lake.manifest_bytes_per_commit": sum(probe.manifest_bytes) / max(1, n_commits),
        "lww.fold_s": replay["fold_s"],
        "lww.rows_out": replay["rows_out"],
        "lww.dedup_ratio": replay["rows_passed"] / max(1, replay["rows_out"]),
        "lww.epochs_salted": len(m.epochs_salted),
        "lww.shuffle_bytes": bytes_of(replay["fold_spans"], "shuffle_bytes"),
        "lww.spill_bytes": bytes_of(replay["fold_spans"], "spill_bytes"),
        "scan.s": replay["scan_s"],
        "scan.rows_read": replay["rows_read"],
        "scan.rows_passed": replay["rows_passed"],
        "jobs.ingest.calls": len(ingests),
        "jobs.plan_s": plan_s,
        "jobs.ingest.self_s": self_s,
        "jobs.epochs_applied": len(m.epochs_applied),
        "lineage.record_batch.s": total("lineage.record_batch"),
        "lineage.record_batch.calls": len(tracer.by_name("lineage.record_batch")),
        "validate.rows_compared": m.live_rows,
        "validate.shuffle_bytes": bytes_of(under("jobs.validate"), "shuffle_bytes"),
        "validate.spill_bytes": bytes_of(under("jobs.validate"), "spill_bytes"),
        "trace.overhead_frac": first_backfill / untraced_ingest_s - 1,
        **substrate,
    }
    for q in m.ops_s:
        spans = [s.id for s in tracer.by_name(f"ops.{q}")]
        L[f"ops.{q}.s"] = m.ops_s[q]
        L[f"ops.{q}.shuffle_bytes"] = bytes_of(spans, "shuffle_bytes")
        L[f"ops.{q}.rows_out"] = m.ops_rows[q]
    L["ops.s"] = sum(m.ops_s.values())
    L["ops.shuffle_bytes"] = sum(L[f"ops.{q}.shuffle_bytes"] for q in m.ops_s)
    st = inp.stats
    L.update({
        "changelog.events": st.events,
        "changelog.distinct_keys": st.distinct_keys,
        "changelog.max_key_share": st.max_key_share,
        "changelog.wal_bytes": st.wal_bytes,
        "changelog.generate_s": st.generate_s,
    })
    detail = {
        "ingest_span_check": {
            "span_s": ingest_wall, "children_covered_s": covered_s, "self_s": self_s,
            "residual_s": ingest_wall - covered_s - self_s,
        },
        "untraced_backfill_s": untraced_ingest_s,
        "traced_backfill_s": first_backfill,
        "spans": [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "thread": s.thread, "run_id": s.run_id, **counters.get(s.id, {})}
            for s in tracer.spans
        ],
    }
    return L, detail
