"""Incrementally-maintained summary table (materialized-view analog).

The reference maintains per-minute CDC-latency stats in a ClickHouse
AggregatingMergeTree MV (``mv_latency_stats`` with avg/max/min/count
*State combinators, merged at read — clickhouse/init.sql:81-94,
SURVEY.md §2.3 A8).

Spark restatement: each micro-batch appends its per-minute **partials**
(sum, count, min, max — the associative state the *State combinators
carry) to a summary parquet table; reads merge partials and finalize
(avg = Σsum/Σcount). Append-only partials + merge-at-read is exactly
the AggregatingMergeTree contract, needs no stream-side state, and a
periodic compaction (``compact_latency_mv``) keeps the partial count
bounded — on a Delta/Iceberg deployment the compaction becomes a MERGE
upsert instead.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        latency_partials(batch_df).write.mode("append").parquet(mv_dir)

    writer = parsed_stream.writeStream.foreachBatch(upsert).option(
        "checkpointLocation", checkpoint_dir
    )
    if synchronous:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    if synchronous:
        q.awaitTermination()
    return q


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
        _merge_latency(spark.read.parquet(mv_dir))
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
    """Fold accumulated partials into one row per minute (the merge the
    MergeTree engine does in the background). Staged rewrite: the
    compacted table is written aside, the live directory is renamed
    away, the staged one renamed into place, and the old copy deleted
    last — a failed swap restores the old directory, so readers never
    lose partials."""
    base = mv_dir.rstrip("/")
    tmp, old = base + "__compact_tmp", base + "__compact_old"
    _merge_latency(spark.read.parquet(base)).write.mode("overwrite").parquet(tmp)
    shutil.rmtree(old, ignore_errors=True)  # left by an interrupted swap
    os.rename(base, old)
    try:
        os.rename(tmp, base)
    except BaseException:
        os.rename(old, base)
        raise
    shutil.rmtree(old)
