"""Incrementally-maintained summary table (materialized-view analog).

The reference maintains per-minute CDC-latency stats in a ClickHouse
AggregatingMergeTree MV (``mv_latency_stats`` with avg/max/min/count
*State combinators, merged at read — clickhouse/init.sql:81-94,
SURVEY.md §2.3 A8).

Spark restatement: each micro-batch writes its per-minute **partials**
(sum, count, min, max — the associative state the *State combinators
carry) as one batch of a batch-keyed table (streaming/job.py); reads
merge partials and finalize (avg = Σsum/Σcount). Partials +
merge-at-read is exactly the AggregatingMergeTree contract and needs no
stream-side state. ``compact_latency_mv`` folds the partials into one
row per minute — the background merge — and is safe while the MV query
runs; on a Delta/Iceberg deployment it becomes a MERGE upsert instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.streaming.job import (
    compact_batches,
    read_batches,
    start_batch_sinks,
)


def latency_partials(batch_df: DataFrame) -> DataFrame:
    """Per-minute latency partial state for one micro-batch
    (op IN ('c','u','d') filter — clickhouse/init.sql:93)."""
    return (
        batch_df.filter(F.col("op").isin("c", "u", "d"))
        .withColumn("minute", F.date_trunc("minute", F.col("ts")))
        .groupBy("minute")
        .agg(
            F.sum("cdc_latency_ms").alias("sum_latency"),
            F.count("*").alias("cnt"),
            F.min("cdc_latency_ms").alias("min_latency"),
            F.max("cdc_latency_ms").alias("max_latency"),
        )
    )


def start_latency_mv(
    spark: SparkSession, parsed_stream: DataFrame, mv_dir: str, checkpoint_dir: str,
    synchronous: bool = True,
):
    """Maintain the MV from a parsed CDC stream via foreachBatch."""
    return start_batch_sinks(parsed_stream, {mv_dir: latency_partials}, checkpoint_dir, synchronous)


def _merge_latency(partials: DataFrame) -> DataFrame:
    """Fold partials to one partial row per minute (sum/cnt add,
    min/max fold) — shared by merge-at-read and compaction."""
    return partials.groupBy("minute").agg(
        F.sum("sum_latency").alias("sum_latency"),
        F.sum("cnt").alias("cnt"),
        F.min("min_latency").alias("min_latency"),
        F.max("max_latency").alias("max_latency"),
    )


def read_latency_mv(spark: SparkSession, mv_dir: str) -> DataFrame:
    """Merge-at-read: finalize avg/min/max/count from partials
    (≙ avgMerge/minMerge/maxMerge/countMerge)."""
    return (
        _merge_latency(read_batches(spark, mv_dir))
        .select(
            "minute",
            (F.col("sum_latency") / F.col("cnt")).alias("avg_latency"),
            "min_latency",
            "max_latency",
            F.col("cnt").alias("n"),
        )
        .orderBy("minute")
    )


def compact_latency_mv(spark: SparkSession, mv_dir: str) -> None:
    """Fold the accumulated partials into one row per minute
    (``job.compact_batches``); safe while the MV query runs."""
    compact_batches(spark, mv_dir, _merge_latency)
