"""The streaming pipeline job — read-once fan-out to three sinks — and
the batch-keyed sink layout every ``foreachBatch`` query writes.

Re-expresses CdcPipelineJob.java:52-91 (SURVEY.md §3.2): one CDC source
→ parse → {raw passthrough, 5-min window aggregate, anomaly alerts}.
Three independent ``writeStream``s would re-read the source, so raw +
agg-partials share one ``foreachBatch`` (read-once parity — SURVEY.md
§4 row 1); the window aggregate is operators/window_agg.py's, its
per-batch ``trade_partials`` merged at read. The stateful alert stream
needs its own query; Spark's parquet file sink makes it exactly-once
through ``_spark_metadata``.

Micro-batch ``<id>`` of every foreachBatch sink lands in
``<table>/batch=<id>/`` with overwrite, so a batch replayed after a
crash between its sink write and its commit-log entry replaces its own
output (W9; reference: 60 s RocksDB checkpoints,
docker-compose.yml:224-228). A partials table (the trade-agg partials,
the latency MV) compacts into ``_base/upto=<N>/``, the
AggregatingMergeTree background merge (clickhouse/init.sql:81-94).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from functools import reduce
from itertools import takewhile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
from cdc_realtime_pipeline_spark.operators.window_agg import (
    finalize_trade_agg,
    merge_trade_partials,
    trade_partials,
)
from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_stream
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import apply_anomaly_detector


def start_query(
    writer: DataStreamWriter, synchronous: bool = True, **trigger
) -> StreamingQuery:
    """Start a streaming query — the one launch policy every streaming
    entry point shares. ``synchronous=True`` drains the input available
    now (``availableNow``) and returns the finished query: the mode
    of the tests, the benchmark drains and the registry queries.
    Otherwise the query keeps running on ``trigger``
    (``DataStreamWriter.trigger`` keywords; none = Spark's default
    micro-batch trigger) and is returned live."""
    if synchronous:
        writer = writer.trigger(availableNow=True)
    elif trigger:
        writer = writer.trigger(**trigger)
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


def start_batch_sinks(
    parsed: DataFrame, sinks: dict[str, Callable[[DataFrame], DataFrame]], checkpoint: str,
    synchronous: bool = True, **trigger,
) -> StreamingQuery:
    """Start the one ``foreachBatch`` query shape: micro-batch ``<id>``
    of ``parsed`` goes through each ``{table_dir: projection}`` into
    ``<table_dir>/batch=<id>/`` with overwrite. A projection with a
    ``month`` column is month-partitioned under its batch directory.
    The batch is persisted only when more than one sink reads it."""
    shared = len(sinks) > 1

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if shared:
            batch_df.persist()
        try:
            for table, project in sinks.items():
                out = project(batch_df)
                writer = out.write.mode("overwrite")
                if "month" in out.columns:
                    writer = writer.partitionBy("month")
                writer.parquet(os.path.join(table, f"batch={batch_id}"))
        finally:
            if shared:
                batch_df.unpersist()

    writer = parsed.writeStream.foreachBatch(write).option("checkpointLocation", checkpoint)
    return start_query(writer, synchronous, **trigger)


def _ids(d: str, key: str) -> list[int]:
    """Ascending ``<key>=<int>`` directory values under ``d``."""
    names = os.listdir(d) if os.path.isdir(d) else []
    return sorted(int(e.split("=", 1)[1]) for e in names if e.startswith(key + "="))


def _committed(table: str) -> tuple[int, list[int]]:
    """(N of the newest ``_base/upto=<N>`` or -1, the committed batch
    ids after N). Batches run in order, so the ids stop at the first
    one without its writer's ``_SUCCESS`` marker: a batch still being
    written is neither read nor folded."""
    # batches are listed before the base: a compaction publishing in
    # between shows its new base beside batches it did not fold, never
    # an old base without the batches it folded
    batches = _ids(table, "batch")
    done = {i for i in batches if _done(table, i)}
    base = max(_ids(os.path.join(table, "_base"), "upto"), default=-1)
    return base, list(takewhile(done.__contains__, (i for i in batches if i > base)))


def _done(table: str, batch: int) -> bool:
    return os.path.exists(os.path.join(table, f"batch={batch}", "_SUCCESS"))


def _read(spark: SparkSession, table: str, base: int, ids: list[int]) -> DataFrame:
    parts = [spark.read.parquet(os.path.join(table, "_base", f"upto={base}"))] if base >= 0 else []
    if ids or not parts:  # nothing committed: an empty read, or Spark's error for no files
        parts.append(spark.read.parquet(table).where(F.col("batch").isin(ids)).drop("batch"))
    return reduce(DataFrame.unionByName, parts)


def read_batches(spark: SparkSession, table: str) -> DataFrame:
    """The rows of a batch-keyed table: the newest base plus the
    committed batches after it. A folded batch (or a replay of one) is
    never read twice; a read planned before a compaction's cleanup may
    fail on a deleted file, and a retry reads the new base."""
    return _read(spark, table, *_committed(table))


def compact_batches(
    spark: SparkSession, table: str, merge: Callable[[DataFrame], DataFrame]
) -> None:
    """Fold the base and the committed batches up to the newest, N, with
    the table's ``merge`` (one partial per key) into ``_base/upto=<N>``,
    staged under a hidden name and published with one rename; only then
    are the folded batches, replays of them and older bases deleted.
    Safe while the writing query runs; one compactor per table."""
    base, ids = _committed(table)
    base_dir = os.path.join(table, "_base")
    if ids:
        staged = os.path.join(base_dir, f".upto={ids[-1]}")
        merge(_read(spark, table, base, ids)).write.mode("overwrite").parquet(staged)
        os.rename(staged, os.path.join(base_dir, f"upto={ids[-1]}"))
        base = ids[-1]
    if base < 0:
        return
    for i in _ids(table, "batch"):
        if i <= base and _done(table, i):
            shutil.rmtree(os.path.join(table, f"batch={i}"))
    for e in os.listdir(base_dir):
        if e != f"upto={base}":
            shutil.rmtree(os.path.join(base_dir, e))


def _with_event_time(parsed: DataFrame, time_mode: str = "event") -> DataFrame:
    # ``event`` (default): event time from the exchange timestamp —
    # the Spark idiom, strictly stronger than the reference.
    # ``ingest``: ingestion/processing time (current_timestamp at
    # parse), the reference's exact W1 semantics (Flink ran
    # processing-time windows, no watermarks — CdcPipelineJob.java:62,70).
    # Ingest mode is non-deterministic by nature, so only the
    # event-time path is oracle-gated; tests assert count preservation
    # and wall-clock containment for ingest mode.
    if time_mode == "ingest":
        return parsed.withColumn("ts", F.current_timestamp())
    if time_mode != "event":
        raise ValueError(f"unknown time_mode: {time_mode!r}")
    return parsed.withColumn("ts", F.timestamp_millis(F.col("upbit_timestamp")))


def run_cdc_fanout(
    spark: SparkSession,
    stream_dir: str,
    out_base: str,
    checkpoint_base: str,
    trigger_seconds: int = 3,
    synchronous: bool = True,
    time_mode: str = "event",
):
    """Start the raw+agg fan-out query (and return it).

    trigger=3 s ≙ the reference's JDBC sink flush interval
    (ClickHouseSinks.java:19-21). ``synchronous=True`` processes all
    available input and stops — the test/bench mode. ``time_mode`` —
    see ``_with_event_time`` (``ingest`` = strict reference parity).
    """
    parsed = _with_event_time(parse_cdc_events(read_cdc_stream(spark, stream_dir)), time_mode)
    sinks = {
        # Sink 1: raw passthrough (Stream 3, CdcPipelineJob.java:90-91),
        # month-partitioned at rest (clickhouse/init.sql:25).
        os.path.join(out_base, "crypto_trades"): lambda b: b.withColumn(
            "month", F.date_format("ts", "yyyyMM")
        ),
        # Sink 2: per-batch window-aggregate *partials* (Stream 1),
        # re-mergeable at read — the AggregatingMergeTree pattern
        # without requiring stream state. parse_cdc_events already
        # dropped rows without an op.
        os.path.join(out_base, "trade_agg_partials"): lambda b: trade_partials(
            b.select(
                "ts",
                "market",
                F.col("trade_price").alias("price"),
                F.col("trade_volume").alias("volume"),
                F.col("trade_amount").alias("amount"),
                (F.col("ask_bid") == "BID").alias("is_bid"),
            )
        ),
    }
    ckpt = os.path.join(checkpoint_base, "fanout")
    return start_batch_sinks(
        parsed, sinks, ckpt, synchronous, processingTime=f"{trigger_seconds} seconds"
    )


def run_alert_stream(
    spark: SparkSession,
    stream_dir: str,
    out_base: str,
    checkpoint_base: str,
    synchronous: bool = True,
):
    """Start the stateful alert query (Stream 2, CdcPipelineJob.java:80-87)."""
    alerts_dir = os.path.join(out_base, "anomaly_alerts")
    # the rules order by sequential_id and read upbit_timestamp, not ts
    alerts = apply_anomaly_detector(parse_cdc_events(read_cdc_stream(spark, stream_dir)))
    writer = (
        alerts.writeStream.format("parquet")
        .option("path", alerts_dir)
        .option("checkpointLocation", os.path.join(checkpoint_base, "alerts"))
        .outputMode("append")
    )
    return start_query(writer, synchronous)


def write_sorted_at_rest(df: DataFrame, out_dir: str) -> None:
    """O4: MergeTree's ``ORDER BY (market, ts, id)`` physical sort-key
    layout (clickhouse/init.sql:26) — partitions by ``df``'s ``month``
    column, with rows sorted within each file so parquet row-group
    min/max stats give the same range-scan locality MergeTree's
    primary index does."""
    # month leads the sort so the writer's required ordering (partition
    # columns first) is already satisfied — otherwise FileFormatWriter
    # inserts its own non-stable sort by month and scrambles the
    # secondary keys.
    (
        df.repartition(F.col("month"))
        .sortWithinPartitions("month", "market", "upbit_timestamp", "trade_id")
        .write.mode("overwrite")
        .partitionBy("month")
        .parquet(out_dir)
    )


def read_merged_trade_agg(spark: SparkSession, out_base: str) -> DataFrame:
    """Merge-at-read of the fan-out's window-agg partials → final
    trade_aggregations relation (FIXTURES.md §A3 schema)."""
    partials = read_batches(spark, os.path.join(out_base, "trade_agg_partials"))
    keys = ("market", "window_start", "window_end")
    return finalize_trade_agg(merge_trade_partials(partials, *keys), *keys)
