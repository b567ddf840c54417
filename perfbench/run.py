"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload serve_zipf --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads (see ``BENCHMARK.json`` and
``README.md``):

- ``serve_zipf``   the app read path over a medallion pipeline; its
  traced runs also time one daily sync -> silver -> gold -> export cycle;
- ``curate_batch`` registry queries, one per ``queries.*`` module.

A run builds its inputs from ``--seed``, runs an untimed warm-and-check
pass, then a closed loop (one client) of timed operations sized to
``--seconds``, checks the outputs and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics with tracing off.
``--trace 1`` enables the Spark event log (through
``PYSPARK_SUBMIT_ARGS``, so ``session.get_spark`` builds the same
session), runs one discarded unit and then twice as many units,
untraced and traced in ABBA order, and reports the per-layer metrics
plus ``trace.overhead.*``: how much worse the traced units read than the
untraced ones, as a share of the untraced value, for each window metric
(set-up is never traced).

Everything a run writes lives under ``perfbench/out/`` in the working
directory; the run deletes its pipeline root, data copy, derived caches,
Spark scratch and event log before it exits, keeping ``report.json`` and
(traced runs) ``spans.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

WORKLOADS = ("serve_zipf", "curate_batch")
CPUS = 4

# name -> unit; every workload reports all of them
E2E = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
    "op_geomean_ms": "ms",
}
# measured over the timed window, so traced and untraced units compare
WINDOW_METRICS = ("cpu_ms_per_op", "op_geomean_ms", "op_p50_ms", "ops_per_s")

CURATE_MODULES = (
    "aggregates_windows", "app_surface", "corpus_text", "dedup_queries",
    "graph_queries", "relational_tpch", "streaming_incremental",
    "vectors_multimodal",
)

PER_LAYER = {
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "cold_op_p50_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "disk.space_amp": "ratio",
    "setup.session_s": "s",
    "setup.inputs_s": "s",
    "setup.warm_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.gc_ms_per_op": "ms",
    "spark.input_rows_per_op": "count",
    "spark.build_jobs_per_op": "count",
    "serve.tail_ms": "ms",
    "plans.medallion.open_ms": "ms",
    "plans.medallion.open_jobs": "count",
    "foia.queries.list_entries_ms": "ms",
    "foia.queries.list_entries_jobs": "count",
    "foia.queries.get_entry_ms": "ms",
    "foia.queries.latest_entries_snapshot_ms": "ms",
    "foia.agencies.agencies_page_ms": "ms",
    "foia.agencies.resolution_timeline_ms": "ms",
    "foia.rss.render_ms": "ms",
    "serve.repeat_share": "ratio",
    "serve.input_rows_per_row_returned": "ratio",
    "foia.sync.run_sync_s": "s",
    "foia.sync.probe_useful_ratio": "ratio",
    "plans.medallion.bronze_swap_s": "s",
    "plans.medallion.gold_s": "s",
    "foia.silver.write_silver_s": "s",
    "foia.export.export_sql_s": "s",
    "foia.export.export_sqlite_s": "s",
    "foia.export.watermark_s": "s",
    "sync.bytes_written": "bytes",
    "sync.jobs": "count",
    "sync.shuffle_write_bytes": "bytes",
    "sync.gc_ms": "ms",
    **{f"queries.{m}.{k}": "s" for m in CURATE_MODULES for k in ("build_s", "exec_s")},
    "sources.tables.load_table_calls": "count",
    "sources.tables.load_table_s": "s",
    **{f"trace.overhead.{m}": "ratio" for m in WINDOW_METRICS},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def launch_env(run_dir: Path, trace: bool) -> Path | None:
    """Keep every file Spark, the JVM and Python temp dirs write inside
    ``run_dir``; in traced runs also turn on the event log."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp / "warehouse")
    # the launcher JVM spark-submit starts first would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    log_dir = None
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def window_metrics(ops: list[harness.Op], cpu_s: float) -> dict[str, float]:
    secs = [o.seconds for o in ops]
    return {
        "cpu_ms_per_op": cpu_s * 1000 / len(ops),
        "op_p50_ms": harness.median(secs) * 1000,
        "op_geomean_ms": harness.geomean(secs) * 1000,
        "ops_per_s": len(secs) / sum(secs),
    }


def measure(args: argparse.Namespace, run_dir: Path, log_dir: Path | None) -> dict:
    """Set up, warm, run the window(s), check; return the report."""
    # process age has clock-tick resolution; take it once, then add a
    # perf_counter interval so setup_s keeps all its digits
    started_s, t_main = harness.process_age_s(), time.perf_counter()
    from wvfoia_sync_spark.session import get_spark
    from wvfoia_sync_spark.sources import derived

    # derived caches (ANN / FTS indexes, layouts) land in the run dir, so
    # every run starts without them and builds them in its warm pass
    derived._PREFIX = str(run_dir / "derived" / "spark_graft_")
    (run_dir / "derived").mkdir()

    tracer = harness.Tracer()
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    wl = importlib.import_module(args.workload).Workload(
        spark, run_dir, args.seed, tracer
    )
    try:
        wl.prepare()
        t2 = time.perf_counter()
        wl.warm()
        t3 = time.perf_counter()
        setup_s = started_s + t3 - t_main

        # whole units (a block of requests, a pass of queries), as many as
        # fit --seconds at the unit's nominal length: every run times the
        # same mix and the same amount of work, however fast the machine
        units = max(1, round(args.seconds / wl.unit_s))
        traced_ops: list[harness.Op] = []
        discarded: list[harness.Op] = []
        cpu_s = traced_cpu_s = 0.0
        if not args.trace:
            cpu0 = harness.tree_cpu_s()
            ops = harness.run_window(wl.run_op, units * wl.unit)
            cpu_s = harness.tree_cpu_s() - cpu0
        else:
            # untraced and traced units in ABBA order, so the JVM's
            # warm-up trend weighs on both sides of the overhead alike;
            # ABBA cancels a linear trend only, so one discarded unit
            # (ops past the window's) first takes the steepest part
            wl.wrap(tracer)
            n = 2 * max(2, units)
            discarded = harness.run_window(wl.run_op, wl.unit, n * wl.unit)
            ops, seen = [], set()
            for j in range(n):
                tracer.enabled = j % 4 in (1, 2)
                cpu0 = harness.tree_cpu_s()
                unit = harness.run_window(wl.run_op, wl.unit, j * wl.unit, seen)
                cpu = harness.tree_cpu_s() - cpu0
                if tracer.enabled:
                    traced_ops += unit
                    traced_cpu_s += cpu
                else:
                    ops += unit
                    cpu_s += cpu
            tracer.enabled = False
        wl.verify()
        if args.trace:
            tracer.enabled = True
            wl.traced_extra()
            tracer.enabled = False
            tracer.unwrap_all()
        rss = harness.peak_rss_mb()
        space_amp = wl.space_amp()
    finally:
        wl.close()
        stop_spark(spark)

    for o in ops + traced_ops + discarded:
        wl.attempted += 1
        wl.failed += 0 if o.ok else 1
    ms = [o.seconds * 1000 for o in ops]
    tail = harness.tail_percentile(ms)
    report: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "setup": {"session_s": t1 - t0, "inputs_s": t2 - t1, "warm_s": t3 - t2},
        "ops": len(ops),
        "traced_ops": len(traced_ops),
        "op_seconds": [[repr(o.key), o.seconds] for o in ops],
        # the highest of p99/p95/p90/p75 that leaves >= 10 samples beyond
        "tail": tail and {
            "p": tail[0], "ms": tail[1], "n": len(ms), "beyond": sum(x > tail[1] for x in ms),
        },
        "peak_rss_mb": rss,
        "space_amp": space_amp,
        "failures": wl.failures[:50],
    }
    if args.trace:
        jobs = harness.read_event_log(str(next(log_dir.iterdir())))
        view = harness.TraceView(tracer.spans, jobs)
        untraced = window_metrics(ops, cpu_s)
        traced = window_metrics(traced_ops, traced_cpu_s)
        cold = [o.seconds for o in ops if o.cold]
        metrics = {
            **{f"setup.{k}": v for k, v in report["setup"].items()},
            "mem.peak_rss_mb": rss,
            "disk.space_amp": space_amp,
            "cold_op_p50_ms": harness.median(cold) * 1000,
            **view.spark_per_op(),
            **{m: untraced[m] for m in ("op_p50_ms", "ops_per_s")},
        }
        for m in WINDOW_METRICS:
            worse = untraced[m] / traced[m] if m == "ops_per_s" else traced[m] / untraced[m]
            metrics[f"trace.overhead.{m}"] = worse - 1.0
        # the layers the workload calls; the others read 0
        layers = wl.layer_metrics(view, ops, traced_ops)
        metrics.update({**dict.fromkeys(PER_LAYER.keys() - metrics.keys(), 0.0), **layers})
        with open(run_dir / "spans.json", "w") as f:
            json.dump(tracer.to_json(), f)
    else:
        window = window_metrics(ops, cpu_s)
        metrics = {"setup_s": setup_s, **{m: window[m] for m in E2E if m in window}}
        report["window"] = window
    report["metrics"] = metrics
    return report


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    repo = Path.cwd()
    if not (repo / "wvfoia_sync_spark" / "__init__.py").is_file():
        print("perfbench: run from the repository root (wvfoia_sync_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(repo))
    run_dir = repo / "perfbench" / "out" / (
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    log_dir = launch_env(run_dir, bool(args.trace))
    try:
        report = measure(args, run_dir, log_dir)
    finally:
        for p in run_dir.iterdir():
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)

    units = PER_LAYER if args.trace else E2E
    metrics = report["metrics"]
    if set(metrics) != set(units):
        raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
    harness.check_metric_names(metrics)
    with open(run_dir / "report.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    result = {
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
