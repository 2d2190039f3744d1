"""Event-time watermark semantics (SURVEY.md §2.4 W8 divergence note).

The reference runs processing time with no watermarks; this engine's
streaming aggregates use event time + watermark. These tests pin the
late-data contract: a row older than (max event time − watermark) when
its micro-batch arrives is dropped from append-mode windowed
aggregation; on-time rows across batches merge into their windows.

Mechanics: the file source orders its initial listing by modification
time, so batches are written with a delay between them; append mode
emits a window only after the watermark passes its end, so each
scenario ends with a far-future "flush" event.
"""

from __future__ import annotations

import pytest

import datetime
import os
import time
import uuid

from pyspark.sql import functions as F

T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)


def _mins(m: float) -> datetime.datetime:
    return T0 + datetime.timedelta(minutes=m)


def _write_batches(spark, d, batches):
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "ts timestamp, market string, v double")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, f"b{i}"))
        time.sleep(1.1)  # distinct mtimes → deterministic batch order
    return str(d)


def _run_windowed(spark, src_dir):
    stream = (
        spark.readStream.schema("ts timestamp, market string, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src_dir, "*"))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "market")
        .agg(F.count("*").alias("n"))
    )
    name = "wm_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        (int((r["w"]["start"] - T0).total_seconds() // 60), r["market"]): r["n"]
        for r in spark.table(name).collect()
    }


@pytest.mark.slow
def test_late_row_after_window_finalized_is_dropped(spark, tmp_path):
    # Spark's watermark guarantee is one-directional: a window is
    # emitted exactly once when the watermark passes its end, and a
    # late row arriving *after* that finalization is dropped (a row
    # arriving in the same batch as the eviction may still count —
    # "may or may not be dropped" per the docs, verified empirically).
    d = _write_batches(
        spark,
        tmp_path,
        [
            # 12:02 opens window (0); 12:30 advances the event-time max
            [(_mins(2), "m", 1.0), (_mins(30), "m", 1.0)],
            # next batch runs with watermark 12:20 and finalizes window
            # (0) with n=1 at its end
            [(_mins(36), "m", 1.0)],
            [(_mins(3), "m", 1.0)],  # too late: window (0) already emitted
            [(_mins(90), "m", 1.0)],  # flush remaining windows
        ],
    )
    out = _run_windowed(spark, d)
    assert out[(0, "m")] == 1  # late 12:03 row did not reopen/augment it
    assert out[(30, "m")] == 1


@pytest.mark.slow
def test_on_time_rows_across_batches_merge_into_windows(spark, tmp_path):
    d = _write_batches(
        spark,
        tmp_path,
        [
            [(_mins(0), "m", 1.0)],
            [(_mins(1), "m", 1.0), (_mins(6), "m", 1.0)],  # within watermark
            [(_mins(60), "m", 1.0)],  # flush
        ],
    )
    out = _run_windowed(spark, d)
    assert out[(0, "m")] == 2  # both 12:0x rows merged into one window
    assert out[(5, "m")] == 1
