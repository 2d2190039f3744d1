"""Streaming runtime: fan-out job, exactly-once restart, stateful
alerts, MV maintenance (SURVEY.md §5 item 3).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.cdc.envelope import (
    parse_cdc_events,
    synthesize_cdc_json_from_events,
)
from cdc_realtime_pipeline_spark.session import load_table
from cdc_realtime_pipeline_spark.operators.window_agg import merge_trade_partials
from cdc_realtime_pipeline_spark.sources.cdc_file_source import (
    read_cdc_batch,
    read_cdc_stream,
    write_cdc_topic,
)
from cdc_realtime_pipeline_spark.streaming.job import (
    compact_batches,
    read_batches,
    read_merged_trade_agg,
    run_alert_stream,
    run_cdc_fanout,
)
from cdc_realtime_pipeline_spark.streaming.mv import (
    compact_latency_mv,
    latency_partials,
    read_latency_mv,
    start_latency_mv,
)


def _make_stream(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events")
    d = str(tmp_path / "cdc_in")
    write_cdc_topic(synthesize_cdc_json_from_events(events), d)
    return d, events.count()


def test_fanout_raw_and_agg_sinks(spark, sf_dir, tmp_path):
    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ck")

    run_cdc_fanout(spark, stream_dir, out, ckpt)

    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events  # every change event lands raw
    assert "month" in raw.columns  # toYYYYMM-style partitioning

    merged = read_merged_trade_agg(spark, out)
    # merged partials must equal a direct batch aggregate of the parse
    batch = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    expect = (
        batch.filter(F.col("op").isNotNull())
        .groupBy(F.window("ts", "5 minutes"), "market")
        .agg(F.count("*").alias("n"), F.sum("trade_amount").alias("amt"))
    )
    got = merged.agg(
        F.sum("trade_count").alias("n"), F.round(F.sum("total_amount"), 2).alias("amt")
    ).collect()[0]
    want = expect.agg(
        F.sum("n").alias("n"), F.round(F.sum("amt"), 2).alias("amt")
    ).collect()[0]
    assert got["n"] == want["n"]
    assert got["amt"] == want["amt"]


def test_fanout_exactly_once_on_restart(spark, sf_dir, tmp_path):
    # re-running with the same checkpoint must not duplicate output (W9)
    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ck")
    run_cdc_fanout(spark, stream_dir, out, ckpt)
    run_cdc_fanout(spark, stream_dir, out, ckpt)  # restart, nothing new
    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events


def test_alert_stream_matches_pure_function(spark, sf_dir, tmp_path):
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    stream_dir, _ = _make_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "cdc_out")
    ckpt = str(tmp_path / "cdc_ck")
    run_alert_stream(spark, stream_dir, out, ckpt)
    got = (
        spark.read.parquet(os.path.join(out, "anomaly_alerts"))
        .select("market", "alert_type", "trade_id")
        .collect()
    )
    got_set = {(r["market"], r["alert_type"], r["trade_id"]) for r in got}

    # reference computation: one pass per key over the full ordered data
    batch = (
        parse_cdc_events(read_cdc_batch(spark, stream_dir))
        .filter(F.col("op") == "c")
        .toPandas()
    )
    want_set = set()
    for market, g in batch.groupby("market"):
        alerts, _ = detect_anomalies_batch_of_key(market, g, {})
        want_set |= {(a["market"], a["alert_type"], a["trade_id"]) for a in alerts}
    assert got_set == want_set


def test_snapshot_union_tail_backfill(spark, sf_dir, tmp_path):
    # S2: Debezium's snapshot-then-tail ≙ batch backfill ∪ streaming
    # tail (SURVEY.md §2.1). Split the topic files in two; batch-read
    # the "snapshot" half, stream the "tail" half, union must equal a
    # full batch read.
    import glob
    import shutil

    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    files = sorted(glob.glob(os.path.join(stream_dir, "part-*")))
    assert len(files) >= 2
    snap_dir = str(tmp_path / "snap")
    tail_dir = str(tmp_path / "tail")
    os.makedirs(snap_dir)
    os.makedirs(tail_dir)
    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(f, snap_dir)
    for f in files[half:]:
        shutil.copy(f, tail_dir)

    snapshot = parse_cdc_events(read_cdc_batch(spark, snap_dir))
    tail = parse_cdc_events(spark.readStream.format("text").load(tail_dir))
    tail_materialized = _memory_sink(tail, "append")
    combined = snapshot.unionByName(tail_materialized)
    assert combined.count() == n_events
    assert combined.select("sequential_id").distinct().count() == n_events


def test_sorted_at_rest_layout(spark, sf_dir, tmp_path):
    # O4: MergeTree ORDER BY layout — files sorted by (market, ts, id)
    from cdc_realtime_pipeline_spark.streaming.job import write_sorted_at_rest

    stream_dir, _ = _make_stream(spark, sf_dir, tmp_path)
    parsed = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    out = str(tmp_path / "sorted")
    write_sorted_at_rest(parsed.withColumn("month", F.date_format("ts", "yyyyMM")), out)
    # within any single file, rows must be non-decreasing on the sort key
    import glob as g

    some_file = sorted(g.glob(os.path.join(out, "month=*", "*.parquet")))[0]
    pdf = spark.read.parquet(some_file).select("market", "upbit_timestamp").toPandas()
    key = list(zip(pdf["market"], pdf["upbit_timestamp"]))
    assert key == sorted(key)


def test_stateful_alert_stream_recovers_state_across_restart(spark, sf_dir, tmp_path):
    # W9 for the stateful path: stop after half the input, restart from
    # the checkpoint with the rest — alerts must equal a one-shot run
    # (PRICE_SPIKE/EMA state crosses the restart boundary)
    # split by event-id range (arrival order, like a time-ordered
    # topic) — an arbitrary file split would interleave each key's
    # sequence across batches, which no ordered transport does
    import shutil

    events = load_table(spark, sf_dir, "events")
    median = events.approxQuantile("event_id", [0.5], 0.0)[0]
    first = events.filter(F.col("event_id") <= median)
    second = events.filter(F.col("event_id") > median)

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    out = str(tmp_path / "alerts_out")
    ckpt = str(tmp_path / "alerts_ck")

    def _stage(df, tag):
        d = str(tmp_path / f"half_{tag}")
        write_cdc_topic(synthesize_cdc_json_from_events(df), d)
        for i, f in enumerate(sorted(os.listdir(d))):
            if not f.startswith("part-"):
                continue
            shutil.copy(os.path.join(d, f), os.path.join(staged, f"{tag}-{i}.txt"))

    _stage(first, "a")
    run_alert_stream(spark, staged, out, ckpt)
    _stage(second, "b")
    run_alert_stream(spark, staged, out, ckpt)  # restart: resumes state

    restarted = {
        (r["market"], r["alert_type"], r["trade_id"])
        for r in spark.read.parquet(os.path.join(out, "anomaly_alerts")).collect()
    }

    out2 = str(tmp_path / "alerts_once")
    ck2 = str(tmp_path / "alerts_onceck")
    oneshot_dir = str(tmp_path / "oneshot_src")
    write_cdc_topic(synthesize_cdc_json_from_events(events), oneshot_dir)
    run_alert_stream(spark, oneshot_dir, out2, ck2)
    oneshot = {
        (r["market"], r["alert_type"], r["trade_id"])
        for r in spark.read.parquet(os.path.join(out2, "anomaly_alerts")).collect()
    }
    assert restarted == oneshot


def test_corrupt_records_mid_stream_do_not_kill_the_query(spark, sf_dir, tmp_path):
    # failure-injection analog (SURVEY §5): malformed JSON lines and
    # tombstones interleaved with good events — the stream completes
    # and parses exactly the good rows
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    with open(os.path.join(stream_dir, "part-corrupt.txt"), "w") as f:
        f.write("{broken json\n\nnot json at all\n{\"payload\": null}\n")
    parsed = parse_cdc_events(spark.readStream.format("text").load(stream_dir))
    res = _memory_sink(parsed, "append")
    assert res.count() == n_events  # good rows all parsed, bad rows dropped


def test_latency_mv_merge_and_compact(spark, sf_dir, tmp_path):
    stream_dir, _ = _make_stream(spark, sf_dir, tmp_path)
    mv_dir = str(tmp_path / "mv")
    ckpt = str(tmp_path / "mv_ck")
    parsed = parse_cdc_events(
        spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(stream_dir)
    ).withColumn("ts", F.timestamp_millis("upbit_timestamp"))
    start_latency_mv(spark, parsed, mv_dir, ckpt)

    # merge-at-read equals a direct batch aggregate
    batch = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    direct = latency_partials(batch)
    mv = read_latency_mv(spark, mv_dir)
    d = direct.agg(F.sum("sum_latency").alias("s"), F.sum("cnt").alias("c")).collect()[0]
    m = mv.agg(F.sum(F.col("avg_latency") * F.col("n")).alias("s"), F.sum("n").alias("c")).collect()[0]
    assert m["c"] == d["c"]
    assert abs(m["s"] - d["s"]) < 1e-6

    # background-merge parity: compaction must not change answers
    before = {r["minute"]: r.asDict() for r in mv.collect()}
    compact_latency_mv(spark, mv_dir)
    after = {r["minute"]: r.asDict() for r in read_latency_mv(spark, mv_dir).collect()}
    assert before == after


@pytest.mark.parametrize("fail_on", ["every_rename", "folded_batch_delete"])
def test_latency_mv_compaction_failure_keeps_partials(spark, tmp_path, monkeypatch, fail_on):
    # a compaction failing before its base is published (every rename
    # refused: the base-publish rename is the only one) or after it
    # (the delete of the folded batches refused) must leave the MV
    # readable with its pre-compaction answer
    import datetime
    import shutil

    m0 = datetime.datetime(2024, 1, 1, 9, 0)
    m1 = m0 + datetime.timedelta(minutes=1)
    mv_dir = str(tmp_path / "mv")
    schema = "minute timestamp, sum_latency long, cnt long, min_latency long, max_latency long"
    for i, rows in enumerate(([(m0, 10, 2, 4, 6)], [(m0, 3, 1, 3, 3), (m1, 5, 1, 5, 5)])):
        spark.createDataFrame(rows, schema).write.parquet(os.path.join(mv_dir, f"batch={i}"))

    def read():
        return {r["minute"]: r.asDict() for r in read_latency_mv(spark, mv_dir).collect()}

    before = read()

    def refuse(*args, **kwargs):
        raise OSError("injected failure")

    target = (os, "rename") if fail_on == "every_rename" else (shutil, "rmtree")
    monkeypatch.setattr(*target, refuse)
    with pytest.raises(OSError, match="injected"):
        compact_latency_mv(spark, mv_dir)
    monkeypatch.undo()
    assert read() == before

    # the next compaction succeeds and folds to one partial per minute
    compact_latency_mv(spark, mv_dir)
    assert read() == before
    assert read_batches(spark, mv_dir).count() == 2


def _parsed_stream(spark, stream_dir):
    return parse_cdc_events(read_cdc_stream(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )


def _drop_last_commit(ckpt):
    # a crash after the sink write and before the commit-log entry:
    # the restarted query replays that batch
    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))


def _sink_totals(spark, out, mv_dir):
    """(raw rows, Σ trade_count, MV Σn)."""
    return (
        spark.read.parquet(os.path.join(out, "crypto_trades")).count(),
        read_merged_trade_agg(spark, out).agg(F.sum("trade_count")).first()[0],
        read_latency_mv(spark, mv_dir).agg(F.sum("n")).first()[0],
    )


def test_replayed_batch_is_not_double_counted(spark, sf_dir, tmp_path):
    # W9: a replayed batch replaces its own output in every
    # foreachBatch sink instead of adding to it
    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    out, ckpt, mv_dir = (str(tmp_path / d) for d in ("out", "ckpt", "mv"))

    def run():
        run_cdc_fanout(spark, stream_dir, out, ckpt)
        start_latency_mv(spark, _parsed_stream(spark, stream_dir), mv_dir, os.path.join(ckpt, "mv"))

    run()
    for q in ("fanout", "mv"):
        _drop_last_commit(os.path.join(ckpt, q))
    run()
    assert _sink_totals(spark, out, mv_dir) == (n_events,) * 3


def test_partials_compact_while_queries_run(spark, sf_dir, tmp_path):
    # both partials tables are compacted while the fan-out and the MV
    # run on a 0-s trigger — racing the batch of each landed file —
    # and again after a forced replay of a folded batch
    import shutil

    src, n_events = _make_stream(spark, sf_dir, tmp_path)
    files = sorted(f for f in os.listdir(src) if f.startswith("part-"))
    assert len(files) >= 2
    topic, out, ckpt, mv_dir = (str(tmp_path / d) for d in ("topic", "out", "ckpt", "mv"))
    os.makedirs(topic)
    keys = ("window_start", "window_end", "market")

    def start():
        return [
            run_cdc_fanout(spark, topic, out, ckpt, trigger_seconds=0, synchronous=False),
            start_latency_mv(
                spark, _parsed_stream(spark, topic), mv_dir, os.path.join(ckpt, "mv"),
                synchronous=False,
            ),
        ]

    def compact():
        compact_batches(
            spark, os.path.join(out, "trade_agg_partials"),
            lambda p: merge_trade_partials(p, *keys),
        )
        compact_latency_mv(spark, mv_dir)

    def land(f):
        # renamed into the topic, so the source never lists a partial file
        shutil.copy(os.path.join(src, f), tmp_path / f)
        os.rename(tmp_path / f, os.path.join(topic, f))

    def run(files):
        queries = start()
        try:
            for f in files:
                land(f)
                compact()
                for q in queries:
                    q.processAllAvailable()
        finally:
            for q in queries:
                q.stop()
        compact()

    run(files[:-1])
    for q in ("fanout", "mv"):
        _drop_last_commit(os.path.join(ckpt, q))
    run(files[-1:])
    assert _sink_totals(spark, out, mv_dir) == (n_events,) * 3


# more paths than Spark's default parallel-listing threshold (32)
_MANY_FILES = 40


def _widest_stage(spark, group):
    """The most tasks any stage of the jobs in job group ``group`` ran."""
    # job and stage infos arrive through the listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs
    return max(
        tracker.getStageInfo(s).numTasks for j in jobs for s in tracker.getJobInfo(j).stageIds
    )


def test_backlog_drain_lists_its_files_without_a_job(spark, sf_dir, tmp_path):
    # a drain over more change files than the threshold lists them on
    # the driver, not through a one-task-per-file Spark job
    events = load_table(spark, sf_dir, "events")
    stream_dir = str(tmp_path / "cdc_in")
    synthesize_cdc_json_from_events(events).repartition(_MANY_FILES).write.text(stream_dir)
    assert sum(f.startswith("part-") for f in os.listdir(stream_dir)) == _MANY_FILES
    out = str(tmp_path / "out")

    q = run_cdc_fanout(spark, stream_dir, out, str(tmp_path / "ckpt"))
    assert spark.read.parquet(os.path.join(out, "crypto_trades")).count() == events.count()
    assert _widest_stage(spark, q.runId) < _MANY_FILES


def test_read_batches_lists_its_batches_without_a_job(spark, tmp_path):
    table = str(tmp_path / "partials")
    spark.range(_MANY_FILES).withColumn("batch", F.col("id")).write.partitionBy(
        "batch"
    ).parquet(table)
    for i in range(_MANY_FILES):  # each batch committed by its own writer
        open(os.path.join(table, f"batch={i}", "_SUCCESS"), "w").close()

    sc = spark.sparkContext
    sc.setJobGroup("read_batches_listing", "read_batches over many batches")
    try:
        assert read_batches(spark, table).count() == _MANY_FILES
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _widest_stage(spark, "read_batches_listing") < _MANY_FILES


def test_fanout_ingest_time_mode(spark, sf_dir, tmp_path):
    """W1 strict-parity mode: processing/ingestion-time windows (the
    reference ran processing time, no watermarks). Non-deterministic by
    nature, so assert the invariants instead of values: every event
    lands exactly once, and every assigned window covers wall-clock
    time inside the run's span."""
    import datetime

    stream_dir, n_events = _make_stream(spark, sf_dir, tmp_path)
    out = str(tmp_path / "cdc_out_ing")
    ckpt = str(tmp_path / "cdc_ck_ing")

    t0 = datetime.datetime.now() - datetime.timedelta(minutes=5)
    run_cdc_fanout(spark, stream_dir, out, ckpt, time_mode="ingest")
    t1 = datetime.datetime.now() + datetime.timedelta(minutes=5)

    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events
    partials = spark.read.parquet(os.path.join(out, "trade_agg_partials"))
    assert partials.agg(F.sum("trade_count")).collect()[0][0] == n_events
    bad = partials.filter(
        (F.col("window_end") < F.lit(t0)) | (F.col("window_start") > F.lit(t1))
    )
    assert bad.count() == 0


def test_stream_topk_per_window_board_invariants(spark, sf_dir):
    from pyspark.sql import functions as F

    from cdc_realtime_pipeline_spark.session import load_table
    from cdc_realtime_pipeline_spark.streaming.stream_queries import (
        stream_topk_per_window,
    )

    rows = stream_topk_per_window(spark, sf_dir).collect()
    n_types = (
        load_table(spark, sf_dir, "events").select("event_type").distinct().count()
    )
    boards: dict = {}
    for r in rows:
        boards.setdefault(r.window_start, []).append(r)
    for win, board in boards.items():
        assert 1 <= len(board) <= min(3, n_types)
        assert [b.rk for b in board] == list(range(1, len(board) + 1))
        # counts non-increasing down the board; equal counts ordered by type
        for a, b in zip(board, board[1:]):
            assert a.n > b.n or (a.n == b.n and a.event_type < b.event_type)


def test_release_memos_clears_stream_caches(spark, sf_dir):
    # the synthesized topics and the detector output are session memo
    # slots on the same static-fixture assumption: release_memos() must
    # drop them so the next call rebuilds instead of re-serving
    from cdc_realtime_pipeline_spark import session
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _cdc_topic

    session.release_memos()
    session.memo_persist("cdc_topic_plain", spark, sf_dir, lambda: "fake_topic")
    session.memo_persist("stream_anomaly_alerts", spark, sf_dir, lambda: None)
    assert _cdc_topic(spark, sf_dir) == "fake_topic"
    session.release_memos()
    assert "cdc_topic_plain" not in session._MEMOIZED
    assert "stream_anomaly_alerts" not in session._MEMOIZED
    topic = _cdc_topic(spark, sf_dir)
    assert topic != "fake_topic" and os.listdir(topic)


def test_stream_merged_trade_agg_leaves_no_temp_dir(spark, sf_dir):
    # sinks and checkpoint live under the session scratch root, not in
    # a fresh mkdtemp per call
    from cdc_realtime_pipeline_spark.streaming.stream_queries import (
        stream_merged_trade_agg,
    )

    def fanout_dirs():
        return {
            d for d in os.listdir(tempfile.gettempdir()) if d.startswith("cdc_fanout_q_")
        }

    before = fanout_dirs()
    assert stream_merged_trade_agg(spark, sf_dir).count() > 0
    assert fanout_dirs() == before
