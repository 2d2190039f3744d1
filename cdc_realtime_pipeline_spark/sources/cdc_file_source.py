"""File-based Debezium-JSON stream source.

The reference's stream transport is Kafka topic
``cdc.crypto_db.crypto_trades`` (CdcPipelineJob.java:52-58). The engine
consumes any string-column stream; in this environment (no Kafka
broker) the replayable source is a directory of JSON-line files read
with ``readStream.text`` — same envelope contract, same downstream
code. Swapping in Kafka is a two-line change:
``spark.readStream.format("kafka")…`` then
``col("value").cast("string")``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_cdc_topic(df_json: DataFrame, out_dir: str) -> str:
    """Materialize a one-column ``value`` DataFrame as four JSON-line
    text files — the replayable CDC "topic". Files ≙ partitions ≙ Kafka
    partitions (per-file order is preserved by the text source,
    matching per-partition Kafka ordering)."""
    df_json.repartition(4).write.mode("overwrite").text(out_dir)
    return out_dir


def read_cdc_stream(spark: SparkSession, in_dir: str) -> DataFrame:
    """Streaming DataFrame of raw envelope JSON strings."""
    return spark.readStream.format("text").load(in_dir)


def read_cdc_batch(spark: SparkSession, in_dir: str) -> DataFrame:
    """Batch view of the same files (backfill path: the snapshot-then-
    tail pattern is ``batch backfill ∪ streaming tail`` — SURVEY §2.1 S2)."""
    return spark.read.format("text").load(in_dir)
