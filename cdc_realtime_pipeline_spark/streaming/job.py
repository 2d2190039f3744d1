"""The streaming pipeline job — read-once fan-out to three sinks.

Re-expresses CdcPipelineJob.java:52-91 (SURVEY.md §3.2): one CDC source
→ parse → {raw passthrough, 5-min window aggregate, anomaly alerts}.

The reference reads Kafka once and forwards to all three consumers
inside one Flink DAG; three independent Spark ``writeStream``s would
re-read the source, so raw + agg-partials go through a single
``foreachBatch`` that persists each micro-batch and writes both sinks
(read-once parity — SURVEY.md §4 row 1). The window aggregate is the
one definition in operators/window_agg.py: each micro-batch appends
its ``trade_partials``, and ``read_merged_trade_agg`` merges and
finalizes them at read. The stateful alert stream needs its own query
(state lives in the streaming runtime, not in foreachBatch).

Sinks are Parquet directories (the ClickHouse-tables analog,
clickhouse/init.sql:7-75), month-partitioned like the reference's
``PARTITION BY toYYYYMM``; checkpointing gives exactly-once into the
idempotent-by-batch-id layout (W9; reference: 60 s RocksDB checkpoints,
docker-compose.yml:224-228).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events
from cdc_realtime_pipeline_spark.operators.window_agg import (
    finalize_trade_agg,
    merge_trade_partials,
    trade_partials,
)
from cdc_realtime_pipeline_spark.sources.cdc_file_source import read_cdc_stream
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import apply_anomaly_detector


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
    raw_dir = os.path.join(out_base, "crypto_trades")
    agg_dir = os.path.join(out_base, "trade_agg_partials")

    parsed = _with_event_time(
        parse_cdc_events(read_cdc_stream(spark, stream_dir)), time_mode
    )

    def fanout(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            # Sink 1: raw passthrough (Stream 3, CdcPipelineJob.java:90-91),
            # month-partitioned at rest (clickhouse/init.sql:25).
            (
                batch_df.withColumn("month", F.date_format("ts", "yyyyMM"))
                .write.mode("append")
                .partitionBy("month")
                .parquet(raw_dir)
            )
            # Sink 2: per-batch window-aggregate *partials* (Stream 1),
            # re-mergeable at read — the AggregatingMergeTree pattern
            # without requiring stream state. parse_cdc_events already
            # dropped rows without an op.
            trades = batch_df.select(
                "ts",
                "market",
                F.col("trade_price").alias("price"),
                F.col("trade_volume").alias("volume"),
                F.col("trade_amount").alias("amount"),
                (F.col("ask_bid") == "BID").alias("is_bid"),
            )
            partials = trade_partials(trades)
            partials.write.mode("append").parquet(agg_dir)
        finally:
            batch_df.unpersist()

    writer = parsed.writeStream.foreachBatch(fanout).option(
        "checkpointLocation", os.path.join(checkpoint_base, "fanout")
    )
    if synchronous:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


def run_alert_stream(
    spark: SparkSession,
    stream_dir: str,
    out_base: str,
    checkpoint_base: str,
    synchronous: bool = True,
):
    """Start the stateful alert query (Stream 2, CdcPipelineJob.java:80-87)."""
    alerts_dir = os.path.join(out_base, "anomaly_alerts")
    parsed = _with_event_time(parse_cdc_events(read_cdc_stream(spark, stream_dir)))
    alerts = apply_anomaly_detector(parsed)
    writer = (
        alerts.writeStream.format("parquet")
        .option("path", alerts_dir)
        .option("checkpointLocation", os.path.join(checkpoint_base, "alerts"))
        .outputMode("append")
    )
    if synchronous:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


def debug_console_sink(df: DataFrame, label: str = "DEBUG", num_rows: int = 20):
    """S6: the reference's ``.print("AGG")`` debug sinks
    (CdcPipelineJob.java:74,85) — Spark's console format."""
    return (
        df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", "true")
        .queryName(label)
    )


def write_sorted_at_rest(df: DataFrame, out_dir: str, month_col: str = "month") -> None:
    """O4: MergeTree's ``ORDER BY (market, ts, id)`` physical sort-key
    layout (clickhouse/init.sql:26) — month partitions with rows sorted
    within each file so parquet row-group min/max stats give the same
    range-scan locality MergeTree's primary index does."""
    # month leads the sort so the writer's required ordering (partition
    # columns first) is already satisfied — otherwise FileFormatWriter
    # inserts its own non-stable sort by month and scrambles the
    # secondary keys.
    (
        df.repartition(F.col(month_col))
        .sortWithinPartitions(month_col, "market", "upbit_timestamp", "trade_id")
        .write.mode("overwrite")
        .partitionBy(month_col)
        .parquet(out_dir)
    )


def read_merged_trade_agg(spark: SparkSession, out_base: str) -> DataFrame:
    """Merge-at-read of the fan-out's window-agg partials → final
    trade_aggregations relation (FIXTURES.md §A3 schema)."""
    partials = spark.read.parquet(os.path.join(out_base, "trade_agg_partials"))
    keys = ("market", "window_start", "window_end")
    return finalize_trade_agg(merge_trade_partials(partials, *keys), *keys)
