"""Benchmark of the CDC engine: ingest freshness, backlog drain rate,
dashboard refresh.

One run:

    python3 perfbench/run.py --workload tail_ingest --seed 1 --seconds 15 --trace 0

prints a report (every metric by name, unit and sample count) and, as
its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` traces every other timed operation and reports
the per-layer metrics and the tracing overhead, and writes the spans
and per-layer table to ``.perfbench/traces/``.

Repeat mode reruns workloads on consecutive seeds and reports each
end-to-end metric's median and quartiles across runs:

    python3 perfbench/run.py --workload all --repeat 5 --seed 1 --seconds 15

Workloads, metrics and which end-to-end number each per-layer metric
should move are described in perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

WORKLOAD_NAMES = ("tail_ingest", "backlog_replay", "dashboard_refresh")
# Usable cores per local[N] thread. A backlog drain keeps every task
# thread busy and each feeds a pandas Python worker of its own, so
# local[N] on N cores runs 2N busy processes beside the JVM's compiler
# and GC threads. On a shared 4-core host the per-run median drain time
# spread 0.13-0.16 of its median (IQR, sets of 3-5 runs) on local[4]
# and 0.07-0.12 (sets of 10-15) on local[2], at about the same rate.
CORES_DIVISOR = {"backlog_replay": 2}

# End-to-end metrics. Freshness is the time from landing change files
# until the last of the three sink queries has committed them: one
# small file on tail_ingest, one outage's backlog on backlog_replay.
# The JSON result carries the medians and events_per_s; a run holds
# 3-4 drains or 12-15 tail batches, too few for its own p90 to be more
# than its slowest sample, so p90 is printed but not gated (repeat mode
# pools the samples of all runs for it).
INGEST_E2E = {"freshness_p50_s": "s", "events_per_s": "1/s", "setup_s": "s"}
E2E_UNITS = {
    "tail_ingest": INGEST_E2E,
    "backlog_replay": INGEST_E2E,
    "dashboard_refresh": {"refresh_p50_s": "s", "events_per_s": "1/s", "setup_s": "s"},
}
# Targets the reference sets (README: commit-to-queryable < 5 s, > 200
# events/s sustained; dashboard refresh interval 10 s).
TARGETS = {
    "tail_ingest": (("freshness_p90_s", "<=", 5.0), ("events_per_s", ">=", 200.0)),
    "dashboard_refresh": (("refresh_p90_s", "<=", 10.0),),
}

COMMON_LAYERS = {
    "session.get_spark_s": "s",
    "process.jvm_peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
}
INGEST_LAYERS = {
    "sources.list_ms": "ms",
    "job.query_planning_ms": "ms",
    "job.wal_commit_ms": "ms",
    "job.commit_offsets_ms": "ms",
    "job.add_batch_ms": "ms",
    "job.fanout_batch_ms": "ms",
    "anomaly.alert_batch_ms": "ms",
    "mv.batch_ms": "ms",
    "anomaly.state_update_ms": "ms",
    "anomaly.state_commit_ms": "ms",
    "anomaly.rocksdb_file_sync_ms": "ms",
    "anomaly.state_rows": "count",
    "anomaly.state_bytes": "bytes",
    "job.files_written_per_batch": "count",
    "job.sink_bytes_per_event": "bytes",
    "spark.tasks_per_batch": "count",
    "cdc.parse_rows_per_s": "1/s",
    "anomaly.detector_rows_per_s": "1/s",
    "mv.read_ms": "ms",
    "mv.compact_ms": "ms",
    **COMMON_LAYERS,
}


def layer_units(workload: str) -> dict[str, str]:
    """Per-layer metrics a traced run of ``workload`` reports."""
    if workload != "dashboard_refresh":
        return INGEST_LAYERS
    from cdc_realtime_pipeline_spark.operators.dashboard import QUERIES

    return {
        **{f"dashboard.{p}_ms": "ms" for p in QUERIES},
        "dashboard.build_ms": "ms",
        "dashboard.exec_ms": "ms",
        "spark.tasks_per_refresh": "count",
        **COMMON_LAYERS,
    }


def _quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _prepare_environment(work: str) -> None:
    """Keep every file the run writes inside its work directory, and
    read timestamps as UTC (the DuckDB oracle's naive timestamps)."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TZ"] = "UTC"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tempfile.tempdir = tmp
    time.tzset()


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def run_once(args) -> int:
    sys.path[:0] = [ROOT, HERE]
    try:
        import cdc_realtime_pipeline_spark.streaming.job  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    import workloads

    cores = args.cores or max(1, len(os.sched_getaffinity(0)) // CORES_DIVISOR.get(args.workload, 1))
    ctx = workloads.Context(T_START, work, cores, args.seed, bool(args.trace))
    try:
        run = workloads.WORKLOADS[args.workload](ctx, float(args.seconds))
        if ctx.trace:
            run.layers["process.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(ctx.jvm_pid())
    finally:
        if ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    return _report(args, run, ctx)


def _e2e(workload: str, run) -> dict[str, tuple[float, int]]:
    """End-to-end metric -> (value, samples)."""
    n = len(run.samples)
    if workload == "backlog_replay":
        rate = statistics.median(e / s for e, s in zip(run.events, run.samples))
    elif workload == "tail_ingest":
        rate = sum(run.events) / run.loop_s  # closed loop: producer time included
    else:
        rate = run.events[0] / statistics.median(run.samples)  # table rows per refresh second
    latency = "refresh" if workload == "dashboard_refresh" else "freshness"
    return {
        "setup_s": (run.setup_s, 1),
        f"{latency}_p50_s": (statistics.median(run.samples), n),
        f"{latency}_p90_s": (_quantile(run.samples, 0.9), n),
        "events_per_s": (rate, n),
    }


def _report(args, run, ctx) -> int:
    w = args.workload
    e2e = _e2e(w, run) if run.samples else {}
    print(f"== {w}  seed={args.seed}  seconds={args.seconds}  cores={ctx.cores}  "
          f"trace={args.trace}")
    print(f"{'metric':<24}{'value':>14}  {'unit':<6}{'samples':>8}")
    for name, (value, n) in e2e.items():
        unit = E2E_UNITS[w].get(name, "s")
        print(f"{name:<24}{value:>14.4f}  {unit:<6}{n:>8}")
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    print(f"{'error_rate':<24}{error_rate:>14.4f}  {'ratio':<6}{run.attempted:>8}  "
          f"(failed / attempted)")
    print(f"{'gen_s':<24}{run.gen_s:>14.4f}  {'s':<6}{'':>8}  (input generation, not timed)")
    if "steal_pct" in run.notes:
        print(f"{'host_steal_pct':<24}{run.notes['steal_pct']:>14.4f}  {'%':<6}{'':>8}  "
              f"(CPU stolen by other guests while timing)")
    for metric, op, target in TARGETS.get(w, ()) if e2e else ():
        value = e2e[metric][0]
        met = value <= target if op == "<=" else value >= target
        print(f"reference target {metric} {op} {target:g}: {'met' if met else 'MISSED'}")
    for name, n in run.notes.get("tie_rows", {}).items():
        print(f"note: {name} matched its oracle up to {n} rows rounded on a half-way tie")
    for err in run.errors[:20]:
        print(f"ERROR: {err}")

    units = layer_units(w)
    if args.trace:
        p_untraced, p_traced = run.notes.get("untraced_p50_s"), run.notes.get("traced_p50_s")
        if p_untraced and p_traced:
            run.layers["trace.overhead_pct"] = (p_traced / p_untraced - 1.0) * 100.0
            print(f"-- per-layer (p50 of untraced operations {p_untraced:.4f} s, of traced "
                  f"ones {p_traced:.4f} s)")
        for name, value in sorted(run.layers.items()):
            print(f"{name:<46}{value:>16.4f}  {units.get(name, '')}")
        os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
        path = os.path.join(OUT, "traces", f"{w}-seed{args.seed}.json")
        ctx.tracer.dump(path, workload=w, seed=args.seed, per_layer=run.layers, notes=run.notes)
        print(f"spans and per-layer table: {os.path.relpath(path, ROOT)}")
        missing = [k for k in units if not math.isfinite(run.layers.get(k, math.nan))]
        if missing:
            run.errors.append(f"per-layer metrics not measured: {missing}")
        metrics = {k: {"value": run.layers[k], "unit": u}
                   for k, u in units.items() if k not in missing}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": u} for k, u in E2E_UNITS[w].items() if k in e2e}
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", f"{w}-seed{args.seed}.json"), "w") as f:
            json.dump({"samples": run.samples, "events": run.events, "metrics": metrics,
                       "steal_pct": run.notes.get("steal_pct")}, f)

    correct = not run.errors and run.failed == 0 and bool(run.samples)
    print(json.dumps({"correct": correct, "attempted": max(1, run.attempted),
                      "failed": run.failed if run.attempted else 1, "metrics": metrics}))
    return 0


def repeat(args) -> int:
    """Rerun each workload on ``--repeat`` consecutive seeds and report
    every metric's median and quartiles across runs, plus latency
    percentiles over the samples of all runs pooled."""
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    for w in names:
        runs = []
        for i in range(args.repeat):
            seed = args.seed + i
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                   str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--cores", str(args.cores)]
            t0 = time.perf_counter()
            res = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            wall = time.perf_counter() - t0
            if res.returncode != 0:
                print(f"{w} seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
                return 1
            out = json.loads(res.stdout.strip().splitlines()[-1])
            runs.append(out)
            vals = "  ".join(f"{k}={v['value']:.4f}" for k, v in out["metrics"].items()
                             if k in E2E_UNITS[w] or k == "trace.overhead_pct")
            print(f"{w} seed {seed}: wall {wall:.1f} s  correct={out['correct']}  "
                  f"failed={out['failed']}/{out['attempted']}  {vals}", flush=True)
        print(f"== {w}: {len(runs)} runs, all correct: {all(r['correct'] for r in runs)}")
        print(f"{'metric':<40}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>10}")
        for k in runs[0]["metrics"]:
            vals = [r["metrics"][k]["value"] for r in runs]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals * 3)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{k:<40}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>10.3f}")
        if not args.trace:
            pooled = []
            for i in range(args.repeat):
                with open(os.path.join(OUT, "results", f"{w}-seed{args.seed + i}.json")) as f:
                    pooled += json.load(f)["samples"]
            print(f"pooled latency over {len(pooled)} samples: p50 "
                  f"{_quantile(pooled, 0.5):.4f} s, p90 {_quantile(pooled, 0.9):.4f} s, "
                  f"p99 {_quantile(pooled, 0.99):.4f} s")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0,
                   help="rerun each workload on this many consecutive seeds")
    p.add_argument("--cores", type=int, default=0,
                   help="local[N] threads (default: every core this process may use, "
                        "half of them on backlog_replay)")
    args = p.parse_args(argv)
    if args.repeat:
        return repeat(args)
    if args.workload == "all":
        p.error("--workload all needs --repeat")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
