"""The three workloads and the per-layer probes of their traced runs.

Each workload is one closed-loop client in one process:

* ``tail_ingest`` — write one small change file, wait until all three
  sink queries have committed it, write the next. The queries run
  concurrently with a 0-s trigger, so the wait is engine time only.
* ``backlog_replay`` — land an outage's worth of change files, then run
  the three queries to completion with their ``synchronous=True``
  (availableNow) entry points, concurrently as a recovering deployment
  would. One drain is one sample.
* ``dashboard_refresh`` — run every ``operators.dashboard`` panel
  serially and collect it. One refresh is one sample.

Warm-up batches, drains and refreshes are part of set-up and never
timed as samples. Every timed region holds only calls into the engine;
input generation and correctness checks sit outside it.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

from gen import ChangeStream, write_events_table
from oracles import PanelOracle, check_latency_mv, check_sinks
from tracing import Tracer, progress_spans

FILE_EVENTS = 500  # tail: row events per change file
TAIL_WARMUP_FILES = 5
DRAIN_FILES = 50  # backlog: files per outage (50 x 500 = 25k events)
# backlog warm-up drains: the first pays start-up, the next two take the
# steepest part of the JIT warm-up (later drains still speed up a little)
BACKLOG_WARMUP_FILES = (DRAIN_FILES,) * 3
TABLE_ROWS = 200_000  # dashboard: rows in the events table
DASH_WARMUP_REFRESHES = 2
WAIT_TIMEOUT_S = 60.0  # a batch takes ~1.5 s; keeps a hung query inside the run limit


@dataclass
class Run:
    """What one workload run measured."""

    setup_s: float = 0.0
    gen_s: float = 0.0
    samples: list[float] = field(default_factory=list)  # seconds per timed op
    events: list[int] = field(default_factory=list)  # events per timed op
    loop_s: float = 0.0  # wall time of the timed loop
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


class Context:
    """Per-process state shared by the workload and its probes."""

    def __init__(self, t_start: float, work: str, cores: int, seed: int, trace: bool):
        self.t_start = t_start
        self.work = work
        self.cores = cores
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(False)  # switched on around traced operations
        self.spark = None

    def start_session(self, run: Run) -> None:
        from cdc_realtime_pipeline_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        t0 = perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                # keep every scratch file inside the run's work directory
                "spark.local.dir": tmp,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        run.layers["session.get_spark_s"] = perf_counter() - t0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def tasks_in_groups(self, groups: list[str]) -> int:
        """Tasks completed by every job of the given job groups (a
        streaming query's group is its run id)."""
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                job = st.getJobInfo(jid)
                for sid in job.stageIds if job else ():
                    stage = st.getStageInfo(sid)
                    n += stage.numCompletedTasks if stage else 0
        return n


# -- the three sink queries over one topic ----------------------------------
class Pipeline:
    """``run_cdc_fanout`` (raw + window-agg partials), ``run_alert_stream``
    and ``start_latency_mv`` over one change-file topic."""

    LAYERS = ("job", "anomaly", "mv")

    def __init__(self, ctx: Context, name: str):
        self.ctx = ctx
        self.topic = ctx.path(name, "topic")
        self.staging = ctx.path(name, "staging")
        self.out = ctx.path(name, "out")
        self.ckpt = ctx.path(name, "ckpt")
        self.mv_dir = os.path.join(ctx.work, name, "mv")
        self.queries: dict = {}
        self.ids: dict[str, str] = {}  # query id -> layer (stable across restarts)
        self.run_ids: list[str] = []

    def _parsed(self):
        from pyspark.sql import functions as F

        from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
        from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_stream

        return parse_cdc_events(read_cdc_stream(self.ctx.spark, self.topic)).withColumn(
            "ts", F.timestamp_millis(F.col("upbit_timestamp")))

    def _launch(self, synchronous: bool) -> dict:
        """Start the three queries. With ``synchronous=True`` each entry
        point blocks until its query has drained, so each runs in its own
        thread and the call returns when all three are done."""
        from cdc_realtime_pipeline_spark.streaming.job import run_alert_stream, run_cdc_fanout
        from cdc_realtime_pipeline_spark.streaming.mv import start_latency_mv

        spark = self.ctx.spark
        starts = {
            "job": lambda: run_cdc_fanout(spark, self.topic, self.out, self.ckpt,
                                          trigger_seconds=0, synchronous=synchronous),
            "anomaly": lambda: run_alert_stream(spark, self.topic, self.out, self.ckpt,
                                                synchronous=synchronous),
            "mv": lambda: start_latency_mv(spark, self._parsed(), self.mv_dir,
                                           os.path.join(self.ckpt, "mv"),
                                           synchronous=synchronous),
        }
        with ThreadPoolExecutor(len(starts)) as pool:
            futures = {layer: pool.submit(start) for layer, start in starts.items()}
            qs = {layer: f.result() for layer, f in futures.items()}
        for layer, q in qs.items():
            self.ids[q.id] = layer
            self.run_ids.append(q.runId)
        return qs

    def start(self) -> None:
        """Start the three queries continuously (0-s trigger)."""
        self.queries = self._launch(synchronous=False)

    def drain(self) -> None:
        """Run the three queries to completion over everything landed."""
        self._launch(synchronous=True)

    def wait_committed(self, log_offset: int) -> None:
        """Block until every query has committed the batch whose file
        source offset is ``log_offset``."""
        pending = list(self.queries.values())
        deadline = perf_counter() + WAIT_TIMEOUT_S
        next_check = perf_counter() + 1.0
        while pending:
            pending = [q for q in pending if _log_offset(q.lastProgress) < log_offset]
            if not pending:
                return
            now = perf_counter()
            if now > next_check:
                next_check = now + 1.0
                for q in pending:
                    if not q.isActive:
                        raise RuntimeError(f"query {self.ids[q.id]} stopped: {q.exception()}")
            if now > deadline:
                raise TimeoutError(f"offset {log_offset} not committed in {WAIT_TIMEOUT_S} s")
            time.sleep(0.002)

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}

    def sink_files(self) -> tuple[int, int]:
        """(data files, bytes) across the four sink directories."""
        n = size = 0
        for d in (self.out, self.mv_dir):
            for root, _, files in os.walk(d):
                for f in files:
                    if f.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(root, f))
        return n, size


def _log_offset(progress) -> int:
    """The file source's committed offset in a progress report. PySpark
    renders it as JSON or as a Python dict repr, so match the number."""
    if not progress:
        return -1
    m = _LOG_OFFSET.search(str(progress["sources"][0]["endOffset"]))
    return int(m.group(1)) if m else -1


_LOG_OFFSET = re.compile(r"logOffset\D+(\d+)")


class ProgressRecorder:
    """Collects ``StreamingQueryProgress`` reports through a Python
    ``StreamingQueryListener`` attached only around traced operations."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        reports = self.reports = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                reports.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()

    @contextmanager
    def capture(self, log_offset: int):
        """Listen while the body runs, then wait (outside the body's
        timing) for the three queries' reports of batch ``log_offset``."""
        self.spark.streams.addListener(self.listener)
        try:
            yield
        finally:
            deadline = perf_counter() + 10.0
            while (sum(_log_offset(r) == log_offset for r in self.reports) < len(Pipeline.LAYERS)
                   and perf_counter() < deadline):
                time.sleep(0.01)
            self.spark.streams.removeListener(self.listener)


# -- per-layer metrics from progress reports ---------------------------------
def _p50(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else float("nan")


def stream_layers(reports: list[dict], pipe: Pipeline) -> dict[str, float]:
    """p50 per query batch of each trigger phase and state metric."""
    by = {layer: [] for layer in Pipeline.LAYERS}
    for r in reports:
        layer = pipe.ids.get(r["id"])
        if layer and r.get("numInputRows", 0) > 0:
            by[layer].append(r)
    allr = [r for rs in by.values() for r in rs]
    d = lambda r, k: r["durationMs"].get(k, 0)  # noqa: E731
    state = [r["stateOperators"][0] for r in by["anomaly"] if r.get("stateOperators")]
    return {
        "sources.list_ms": _p50(d(r, "latestOffset") + d(r, "getBatch") for r in allr),
        "job.query_planning_ms": _p50(d(r, "queryPlanning") for r in allr),
        "job.wal_commit_ms": _p50(d(r, "walCommit") for r in allr),
        "job.commit_offsets_ms": _p50(d(r, "commitOffsets") for r in allr),
        "job.add_batch_ms": _p50(d(r, "addBatch") for r in allr),
        "job.fanout_batch_ms": _p50(d(r, "triggerExecution") for r in by["job"]),
        "anomaly.alert_batch_ms": _p50(d(r, "triggerExecution") for r in by["anomaly"]),
        "mv.batch_ms": _p50(d(r, "triggerExecution") for r in by["mv"]),
        "anomaly.state_update_ms": _p50(s["allUpdatesTimeMs"] for s in state),
        "anomaly.state_commit_ms": _p50(s["commitTimeMs"] for s in state),
        "anomaly.rocksdb_file_sync_ms": _p50(
            s.get("customMetrics", {}).get("rocksdbCommitFileSyncLatencyMs") for s in state),
        "anomaly.state_rows": float(state[-1]["numRowsTotal"]) if state else float("nan"),
        "anomaly.state_bytes": float(state[-1]["memoryUsedBytes"]) if state else float("nan"),
    }


def stream_spans(tracer: Tracer, reports: list[dict], pipe: Pipeline, trace_of,
                 waiter: str) -> None:
    """Spans of every reported batch, each a child of the benchmark span
    (``waiter``) that waited for it in the same trace."""
    for r in reports:
        layer = pipe.ids.get(r["id"])
        if layer and r.get("numInputRows", 0) > 0:
            trace = trace_of(_log_offset(r))
            progress_spans(tracer, layer, r, trace, tracer.find(waiter, trace))


# -- probes: direct timed calls into single layers ---------------------------
def probe_parse(ctx: Context, topic: str, rows: int) -> float:
    """Rows/s of ``parse_cdc_events(read_cdc_batch(topic))`` into a noop sink."""
    from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
    from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_batch

    times = []
    for i in range(3):
        with ctx.tracer.span("cdc.parse_probe", f"probe-parse-{i}"):
            t0 = perf_counter()
            parse_cdc_events(read_cdc_batch(ctx.spark, topic)).write.format("noop").mode(
                "overwrite").save()
            times.append(perf_counter() - t0)
    return rows / statistics.median(times)


def probe_detector(ctx: Context, truth: list[dict]) -> float:
    """Rows/s of ``detect_anomalies_batch_of_key`` called per market."""
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    inserts = pd.DataFrame([t for t in truth if t["op"] == "c"])
    frames = [(m, g.reset_index(drop=True)) for m, g in inserts.groupby("market")]
    times = []
    for i in range(3):
        with ctx.tracer.span("anomaly.detector_probe", f"probe-detector-{i}"):
            t0 = perf_counter()
            for market, pdf in frames:
                detect_anomalies_batch_of_key(market, pdf, {})
            times.append(perf_counter() - t0)
    return len(inserts) / statistics.median(times)


def probe_mv(ctx: Context, pipe: Pipeline, truth: list[dict], run: Run) -> None:
    """Time the MV read and compaction; re-check Σn after compaction."""
    from cdc_realtime_pipeline_spark.streaming.mv import compact_latency_mv, read_latency_mv

    with ctx.tracer.span("mv.read", "probe-mv"):
        t0 = perf_counter()
        read_latency_mv(ctx.spark, pipe.mv_dir).collect()
        run.layers["mv.read_ms"] = (perf_counter() - t0) * 1e3
    with ctx.tracer.span("mv.compact", "probe-mv"):
        t0 = perf_counter()
        compact_latency_mv(ctx.spark, pipe.mv_dir)
        run.layers["mv.compact_ms"] = (perf_counter() - t0) * 1e3
    run.errors += check_latency_mv(ctx.spark, pipe.mv_dir, truth)


def ingest_probes(ctx: Context, pipe: Pipeline, stream: ChangeStream, run: Run,
                  n_batches: int, reports: list[dict]) -> None:
    """Per-layer numbers for an ingest run (traced pass only)."""
    run.layers.update(stream_layers(reports, pipe))
    n_files, n_bytes = pipe.sink_files()
    run.layers["job.files_written_per_batch"] = n_files / max(1, n_batches)
    run.layers["job.sink_bytes_per_event"] = n_bytes / max(1, len(stream.truth))
    run.layers["spark.tasks_per_batch"] = ctx.tasks_in_groups(pipe.run_ids) / max(1, n_batches)
    run.layers["cdc.parse_rows_per_s"] = probe_parse(ctx, pipe.topic, len(stream.truth))
    run.layers["anomaly.detector_rows_per_s"] = probe_detector(ctx, stream.truth)
    probe_mv(ctx, pipe, stream.truth, run)


MIN_SAMPLES = 3


def _cpu_ticks() -> list[int]:
    """The host's aggregate CPU counters from ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _timed_loop(ctx: Context, run: Run, seconds: float, op, traced_op=None) -> None:
    """Call ``op()`` — one timed operation, which appends its sample —
    until ``seconds`` have passed (and at least ``MIN_SAMPLES`` ran).

    A traced run traces every other operation (``traced_op(op)`` adds
    the listener around it), so the untraced and traced samples
    interleave: their medians give the tracing overhead without the
    warm-up trend favouring either set."""
    traced_flags: list[bool] = []
    ticks0 = _cpu_ticks()
    t_loop = perf_counter()
    while perf_counter() - t_loop < seconds or len(run.samples) < MIN_SAMPLES:
        traced = ctx.trace and len(run.samples) % 2 == 1
        ctx.tracer.enabled = traced
        run.attempted += 1
        try:
            traced_op(op) if traced and traced_op else op()
        except Exception as e:  # a failed operation is counted and ends the loop
            run.failed += 1
            run.errors.append(f"{type(e).__name__}: {e}")
            break
        traced_flags.append(traced)
    run.loop_s = perf_counter() - t_loop
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    # CPU time the hypervisor gave to other guests while this one wanted it
    run.notes["steal_pct"] = 100.0 * ticks[7] / max(1, sum(ticks))
    ctx.tracer.enabled = ctx.trace  # the probes after the loop are traced too
    if ctx.trace and len(set(traced_flags)) == 2:
        for key, flag in (("untraced_p50_s", False), ("traced_p50_s", True)):
            run.notes[key] = statistics.median(
                s for s, f in zip(run.samples, traced_flags) if f == flag)


# -- tail_ingest --------------------------------------------------------------
def _tail_file(ctx: Context, pipe: Pipeline, stream: ChangeStream, run: Run) -> float:
    """Land one change file; return seconds until all three queries
    committed it (the file's freshness)."""
    k = stream.files
    trace = f"file-{k}"
    g0 = perf_counter()
    with ctx.tracer.span("producer.write", trace):
        stream.write_file(FILE_EVENTS, pipe.staging, pipe.topic)
    t0 = perf_counter()
    run.gen_s += t0 - g0
    with ctx.tracer.span("producer.wait", trace):
        pipe.wait_committed(k)
    return perf_counter() - t0


def tail_ingest(ctx: Context, seconds: float) -> Run:
    run = Run()
    ctx.start_session(run)
    stream = ChangeStream(ctx.seed)
    pipe = Pipeline(ctx, "tail")
    pipe.start()
    for _ in range(TAIL_WARMUP_FILES):
        _tail_file(ctx, pipe, stream, run)
    run.setup_s = perf_counter() - ctx.t_start - run.gen_s

    def one_file():
        before = len(stream.truth)
        run.samples.append(_tail_file(ctx, pipe, stream, run))
        run.events.append(len(stream.truth) - before)

    recorder = ProgressRecorder(ctx.spark) if ctx.trace else None

    def traced_file(op):
        with recorder.capture(stream.files):
            op()

    _timed_loop(ctx, run, seconds, one_file, traced_file)
    pipe.stop()
    if ctx.trace:
        stream_spans(ctx.tracer, recorder.reports, pipe, lambda off: f"file-{off}",
                     "producer.wait")
        ingest_probes(ctx, pipe, stream, run, stream.files, recorder.reports)
    _check_ingest(ctx, pipe, stream, run)
    return run


# -- backlog_replay -----------------------------------------------------------
def _land_backlog(pipe: Pipeline, stream: ChangeStream, files: int = DRAIN_FILES) -> int:
    """Write one outage's change files; returns the row events landed."""
    before = len(stream.truth)
    for _ in range(files):
        stream.write_file(FILE_EVENTS, pipe.staging, pipe.topic)
    return len(stream.truth) - before


def backlog_replay(ctx: Context, seconds: float) -> Run:
    run = Run()
    ctx.start_session(run)
    stream = ChangeStream(ctx.seed)
    pipe = Pipeline(ctx, "backlog")
    for files in BACKLOG_WARMUP_FILES:
        g0 = perf_counter()
        _land_backlog(pipe, stream, files)
        run.gen_s += perf_counter() - g0
        pipe.drain()
    run.setup_s = perf_counter() - ctx.t_start - run.gen_s

    def one_drain():
        # each drain is one batch per query: its source offset is the drain index
        trace = f"drain-{len(run.samples) + len(BACKLOG_WARMUP_FILES)}"
        with ctx.tracer.span("producer.land", trace):
            n = _land_backlog(pipe, stream)
        with ctx.tracer.span("backlog.drain", trace):
            t0 = perf_counter()
            pipe.drain()
            run.samples.append(perf_counter() - t0)
        run.events.append(n)

    recorder = ProgressRecorder(ctx.spark) if ctx.trace else None

    def traced_drain(op):
        with recorder.capture(len(run.samples) + len(BACKLOG_WARMUP_FILES)):
            op()

    _timed_loop(ctx, run, seconds, one_drain, traced_drain)
    if ctx.trace:
        stream_spans(ctx.tracer, recorder.reports, pipe, lambda off: f"drain-{off}",
                     "backlog.drain")
        ingest_probes(ctx, pipe, stream, run, len(run.samples) + len(BACKLOG_WARMUP_FILES),
                      recorder.reports)
    _check_ingest(ctx, pipe, stream, run)
    return run


def _check_ingest(ctx: Context, pipe: Pipeline, stream: ChangeStream, run: Run) -> None:
    """Sink oracles over the whole run. A mismatch cannot be pinned on
    one batch or drain, so it marks every timed operation wrong."""
    run.errors += check_sinks(ctx.spark, pipe.out, pipe.mv_dir, stream.truth)
    if run.errors:
        run.failed = run.attempted


# -- dashboard_refresh ----------------------------------------------------------
def _panels():
    from cdc_realtime_pipeline_spark.operators.dashboard import QUERIES

    return list(QUERIES.items())


def _refresh(ctx: Context, sf_dir: str, trace: str) -> tuple[float, dict, dict]:
    """Build and collect every panel once. Returns the refresh seconds,
    each panel's (rows, columns) and each panel's (build, exec) seconds."""
    spark = ctx.spark
    results, times = {}, {}
    t_refresh = perf_counter()
    with ctx.tracer.span("dashboard.refresh", trace) as parent:
        for name, fn in _panels():
            with ctx.tracer.span(f"dashboard.{name}.build", trace, parent):
                t0 = perf_counter()
                df = fn(spark, sf_dir)
                df.schema  # noqa: B018 — analysis is part of building the panel
                t1 = perf_counter()
            with ctx.tracer.span(f"dashboard.{name}.exec", trace, parent):
                results[name] = (df.collect(), df.columns)
                t2 = perf_counter()
            times[name] = (t1 - t0, t2 - t1)
    return perf_counter() - t_refresh, results, times


def dashboard_refresh(ctx: Context, seconds: float) -> Run:
    run = Run()
    sf_dir = ctx.path("dashboard")
    events = os.path.join(sf_dir, "events.parquet")
    g0 = perf_counter()
    write_events_table(events, TABLE_ROWS, ctx.seed)
    run.gen_s = perf_counter() - g0
    ctx.start_session(run)
    for i in range(DASH_WARMUP_REFRESHES):
        _refresh(ctx, sf_dir, f"warmup-{i}")
    run.setup_s = perf_counter() - ctx.t_start - run.gen_s

    sc = ctx.spark.sparkContext
    checks, timing, tasks = [], [], []

    def one_refresh():
        trace = f"refresh-{len(run.samples)}"
        if ctx.tracer.enabled:
            sc.setJobGroup(trace, trace)
        elapsed, results, times = _refresh(ctx, sf_dir, trace)
        run.samples.append(elapsed)
        checks.append((trace, results))
        if ctx.tracer.enabled:
            timing.append(times)
            tasks.append(ctx.tasks_in_groups([trace]))

    _timed_loop(ctx, run, seconds, one_refresh)
    run.events = [TABLE_ROWS] * len(run.samples)
    oracle = PanelOracle(events)
    for trace, results in checks:
        errs = [e for name, (rows, cols) in results.items() for e in oracle.check(name, rows, cols)]
        if errs:
            run.failed += 1
            run.errors += [f"{trace}: {e}" for e in errs]
    run.notes["tie_rows"] = oracle.tie_rows
    if timing:
        for name, _ in _panels():
            run.layers[f"dashboard.{name}_ms"] = _p50(sum(t[name]) * 1e3 for t in timing)
        run.layers["dashboard.build_ms"] = _p50(sum(b for b, _ in t.values()) * 1e3 for t in timing)
        run.layers["dashboard.exec_ms"] = _p50(sum(e for _, e in t.values()) * 1e3 for t in timing)
        run.layers["spark.tasks_per_refresh"] = _p50(tasks)
    return run


WORKLOADS = {
    "tail_ingest": tail_ingest,
    "backlog_replay": backlog_replay,
    "dashboard_refresh": dashboard_refresh,
}
