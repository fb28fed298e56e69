"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload wide_keys --seed 1 --seconds 4 --trace 0

Runs from the root of a checkout, on ``local[4]`` in this one process.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and the Spark event log on and measures the
per-layer metrics instead. Every number is printed as
``metric <name> <value> <unit>``; the full detail goes to
``perfbench/.out/<workload>-s<seed>-t<trace>.json``; the last stdout
line is a compact JSON summary (under 1.5 kB) of exactly the metrics
BENCHMARK.json names for that mode. A failed engine call or correctness
gate exits 1 with ``"correct": false``. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
SETUP_REPS = 3   # input generations in set-up (setup_s takes the median): the
                 # first feeds the warm-up, the second the measured run, the
                 # third its second backfill (the traced run's untraced one)


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "B" if not name.endswith("per_commit") else "B/commit"
    if name.endswith(("calls", "files", "files_touched", "files_read", "rows_out",
                      "rows_read", "rows_passed", "rows_compared", "epochs_applied",
                      "epochs_salted", "events", "distinct_keys", "buckets_rewritten")):
        return "count"
    if name.endswith("gbps"):
        return "GB/s"
    return "ratio"


def check_checkout() -> str | None:
    """Why this directory cannot be benchmarked, or None."""
    for rel in ("BENCHMARK.json", "cassandra_data_migrator_spark/jobs.py",
                "tools/bench_scaling.py", "tools/check_parity.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a full checkout"
    return None


def start_session(work: str, event_log: str | None):
    from cassandra_data_migrator_spark.session import get_spark

    # keep every file Spark, the JVMs and Python write inside ``work``
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      SPARK_LAUNCHER_OPTS="-XX:-UsePerfData")  # no /tmp/hsperfdata_*
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", master="local[4]", shuffle_partitions=8, extra_conf=conf)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(m, setup_s: float, rss_mb: float) -> dict[str, tuple[float, str, str]]:
    """Every end-to-end number: name -> (value, unit, how it was taken).
    BENCHMARK.json gates the steady ones; NOTES.md says why the others
    are printed only."""
    from perfbench.workload import pct, tail_percentile

    out = {
        "setup_s": (setup_s, "s", ""),
        "ingest_events_per_s": (m.backfill_events * len(m.backfills) / sum(m.backfills),
                                "events/s", f"{len(m.backfills)} backfills"),
        "validate_s": (sum(m.validates) / len(m.validates), "s",
                       f"mean of {len(m.validates)}"),
        "freshness_p50_s": (pct(m.freshness, 50), "s", f"n={len(m.freshness)} epochs"),
        "lookup_p50_ms": (1000 * pct(m.lookups, 50), "ms", f"n={len(m.lookups)}"),
        "write_amp": (m.write_amp, "ratio", ""),
        "snapshot_bytes_per_row": (m.snapshot_bytes / m.live_rows, "B/row", ""),
        "snapshot_scan_s": (min(m.snapshot_scans), "s", f"fastest of {len(m.snapshot_scans)}"),
        "changes_scan_s": (min(m.changes_scans), "s", f"fastest of {len(m.changes_scans)}"),
        "peak_rss_mb": (rss_mb, "MB", "driver JVM VmHWM"),
    }
    for name, unit, xs, scale in (("freshness_tail_s", "s", m.freshness, 1),
                                  ("lookup_tail_ms", "ms", m.lookups, 1000)):
        q = tail_percentile(len(xs))
        out[name] = (scale * (pct(xs, q) if q else max(xs)), unit,
                     f"{f'p{q}' if q else 'max'} of n={len(xs)}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the trickle phase's open-loop schedule")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke check uses 0.1)")
    args = ap.parse_args(argv)

    problem = check_checkout()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import walgen, workload as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        # the summary line carries exactly the metrics BENCHMARK.json names
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["per_layer" if args.trace else "end_to_end"]}
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    os.makedirs(OUT, exist_ok=True)
    shape = walgen.SHAPES[args.workload]
    params = wl.WORKLOADS[args.workload].scaled(args.scale)
    trickle_epochs = max(1, round(args.seconds / params.trickle_interval_s))
    ops = wl.Ops()
    detail: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace, "scale": args.scale, "params": vars(params)}
    spark = None
    metrics: dict = {}
    try:
        # ---- set-up: session, inputs (SETUP_REPS times, median), warm-up
        t0 = time.perf_counter()
        spark = start_session(work, os.path.join(work, "eventlog") if args.trace else None)
        session_s = time.perf_counter() - t0
        gen_s, sets = [], []
        for i in range(SETUP_REPS):
            t0 = time.perf_counter()
            sets.append(wl.make_inputs(os.path.join(work, f"in{i}"), shape, params, args.seed,
                                       trickle_epochs))
            gen_s.append(time.perf_counter() - t0)
        inp = sets[1]   # the copies are identical: one seed, one generator
        bad = walgen.check_shape(shape, inp.stats, params.n_keys)
        if bad:
            raise wl.RunFailed("WAL shape outside its band: " + "; ".join(bad))
        t0 = time.perf_counter()
        wl.warm_up(spark, sets[0], os.path.join(work, "warm-corpus") if args.trace else None,
                   args.seed + 10_000)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(gen_s) + warm_s
        detail["setup"] = {"session_s": session_s, "generate_s": gen_s, "warmup_s": warm_s}
        detail["changelog"] = {k: v for k, v in vars(inp.stats).items() if k != "key_counts"}

        # ---- measured run
        if args.trace:
            from perfbench.traced import traced_run

            layers, tdetail = traced_run(spark, inp, sets[2], args.seed, ops,
                                         os.path.join(work, "eventlog"), tag)
            detail["per_layer"] = layers
            detail.update(tdetail)
            metrics = {k: layers[k] for k in units}
        else:
            m = wl.pipeline(spark, inp, args.seed, ops, rerun=sets[2])
            e2e = e2e_metrics(m, setup_s, jvm_peak_rss_mb(spark))
            metrics = {k: e2e[k][0] for k in units}
            detail["end_to_end"] = e2e
            detail["notes"] = {"trickle_calls": len(m.ingest_calls) - len(m.backfills),
                               "generator_late_max_s": max(m.generator_late_s)}
            detail["raw"] = vars(m)
    except Exception as e:  # noqa: BLE001 - report any failure as a failed run
        traceback.print_exc()
        ops.failed += 1
        ops.attempted += 1
        ops.failures.append(f"{type(e).__name__}: {e}")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = ops.failed == 0
    detail.update(correct=correct, attempted=ops.attempted, failed=ops.failed,
                  failures=ops.failures, metrics=metrics, units=units)
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for k, v in detail.get("per_layer", {}).items():
        print(f"metric {k} {v} {layer_unit(k)}")
    for k, (v, unit, how) in detail.get("end_to_end", {}).items():
        print(f"metric {k} {v} {unit}" + (f" ({how})" if how else ""))
    print(f"metric failed_ops_frac {ops.failed / max(1, ops.attempted)} ratio "
          f"({ops.failed} of {ops.attempted})")
    for k, v in detail.get("notes", {}).items():
        print(f"note {k} {v}")
    for msg in ops.failures:
        print(f"FAILED {msg}")
    print(json.dumps({
        "correct": correct,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }, separators=(",", ":")))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
