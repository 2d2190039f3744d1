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
from cdc_realtime_pipeline_spark.sources.cdc_file_source import (
    read_cdc_batch,
    write_cdc_json_files,
)
from cdc_realtime_pipeline_spark.streaming.job import (
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


def _make_stream(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="cdc_in_")
    write_cdc_json_files(synthesize_cdc_json_from_events(events), d)
    return d, events.count()


def test_fanout_raw_and_agg_sinks(spark, sf_dir):
    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")

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


def test_fanout_exactly_once_on_restart(spark, sf_dir):
    # re-running with the same checkpoint must not duplicate output (W9)
    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")
    run_cdc_fanout(spark, stream_dir, out, ckpt)
    run_cdc_fanout(spark, stream_dir, out, ckpt)  # restart, nothing new
    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    assert raw.count() == n_events


def test_alert_stream_matches_pure_function(spark, sf_dir):
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    stream_dir, _ = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_")
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


def test_snapshot_union_tail_backfill(spark, sf_dir):
    # S2: Debezium's snapshot-then-tail ≙ batch backfill ∪ streaming
    # tail (SURVEY.md §2.1). Split the topic files in two; batch-read
    # the "snapshot" half, stream the "tail" half, union must equal a
    # full batch read.
    import glob
    import shutil

    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(stream_dir, "part-*")))
    assert len(files) >= 2
    snap_dir = tempfile.mkdtemp(prefix="snap_")
    tail_dir = tempfile.mkdtemp(prefix="tail_")
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


def test_sorted_at_rest_layout(spark, sf_dir):
    # O4: MergeTree ORDER BY layout — files sorted by (market, ts, id)
    from cdc_realtime_pipeline_spark.streaming.job import write_sorted_at_rest

    stream_dir, _ = _make_stream(spark, sf_dir)
    parsed = parse_cdc_events(read_cdc_batch(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    out = tempfile.mkdtemp(prefix="sorted_") + "/t"
    write_sorted_at_rest(parsed.withColumn("month", F.date_format("ts", "yyyyMM")), out)
    # within any single file, rows must be non-decreasing on the sort key
    import glob as g

    some_file = sorted(g.glob(os.path.join(out, "month=*", "*.parquet")))[0]
    pdf = spark.read.parquet(some_file).select("market", "upbit_timestamp").toPandas()
    key = list(zip(pdf["market"], pdf["upbit_timestamp"]))
    assert key == sorted(key)


def test_stateful_alert_stream_recovers_state_across_restart(spark, sf_dir):
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

    staged = tempfile.mkdtemp(prefix="staged_")
    out = tempfile.mkdtemp(prefix="alerts_out_")
    ckpt = tempfile.mkdtemp(prefix="alerts_ck_")

    def _stage(df, tag):
        d = tempfile.mkdtemp(prefix=f"half_{tag}_")
        write_cdc_json_files(synthesize_cdc_json_from_events(df), d)
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

    out2 = tempfile.mkdtemp(prefix="alerts_once_")
    ck2 = tempfile.mkdtemp(prefix="alerts_onceck_")
    oneshot_dir = tempfile.mkdtemp(prefix="oneshot_src_")
    write_cdc_json_files(synthesize_cdc_json_from_events(events), oneshot_dir)
    run_alert_stream(spark, oneshot_dir, out2, ck2)
    oneshot = {
        (r["market"], r["alert_type"], r["trade_id"])
        for r in spark.read.parquet(os.path.join(out2, "anomaly_alerts")).collect()
    }
    assert restarted == oneshot


def test_corrupt_records_mid_stream_do_not_kill_the_query(spark, sf_dir):
    # failure-injection analog (SURVEY §5): malformed JSON lines and
    # tombstones interleaved with good events — the stream completes
    # and parses exactly the good rows
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _memory_sink

    stream_dir, n_events = _make_stream(spark, sf_dir)
    with open(os.path.join(stream_dir, "part-corrupt.txt"), "w") as f:
        f.write("{broken json\n\nnot json at all\n{\"payload\": null}\n")
    parsed = parse_cdc_events(spark.readStream.format("text").load(stream_dir))
    res = _memory_sink(parsed, "append")
    assert res.count() == n_events  # good rows all parsed, bad rows dropped


def test_latency_mv_merge_and_compact(spark, sf_dir):
    stream_dir, _ = _make_stream(spark, sf_dir)
    mv_dir = tempfile.mkdtemp(prefix="mv_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="mv_ck_")
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


@pytest.mark.parametrize("fail_on", ["every_rename", "swap_in_rename"])
def test_latency_mv_compaction_failure_keeps_partials(spark, monkeypatch, fail_on):
    # a rename failing mid-compaction must leave the MV readable with
    # its pre-compaction answer: first with every rename refused, then
    # with only the staged-table swap refused (the restore path)
    import datetime

    m0 = datetime.datetime(2024, 1, 1, 9, 0)
    m1 = m0 + datetime.timedelta(minutes=1)
    mv_dir = tempfile.mkdtemp(prefix="mv_fail_") + "/t"
    schema = "minute timestamp, sum_latency long, cnt long, min_latency long, max_latency long"
    for rows in ([(m0, 10, 2, 4, 6)], [(m0, 3, 1, 3, 3), (m1, 5, 1, 5, 5)]):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(mv_dir)

    def read():
        return {r["minute"]: r.asDict() for r in read_latency_mv(spark, mv_dir).collect()}

    before = read()
    real_rename = os.rename

    def failing_rename(src, dst, *args, **kwargs):
        if fail_on == "every_rename" or str(src).endswith("__compact_tmp"):
            raise OSError("injected rename failure")
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="injected"):
        compact_latency_mv(spark, mv_dir)
    monkeypatch.undo()
    assert read() == before

    # the next compaction succeeds and folds to one partial per minute
    compact_latency_mv(spark, mv_dir)
    assert read() == before
    assert spark.read.parquet(mv_dir).count() == 2


def test_fanout_ingest_time_mode(spark, sf_dir):
    """W1 strict-parity mode: processing/ingestion-time windows (the
    reference ran processing time, no watermarks). Non-deterministic by
    nature, so assert the invariants instead of values: every event
    lands exactly once, and every assigned window covers wall-clock
    time inside the run's span."""
    import datetime

    stream_dir, n_events = _make_stream(spark, sf_dir)
    out = tempfile.mkdtemp(prefix="cdc_out_ing_")
    ckpt = tempfile.mkdtemp(prefix="cdc_ck_ing_")

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
