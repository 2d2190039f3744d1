"""Debezium-envelope CDC parsing — the engine's change-event front door.

Re-expresses the reference's CdcEventParser (a Flink ``FlatMapFunction``,
CdcEventParser.java:36-97) as a declarative Spark pipeline:

* tolerate enveloped (``{"payload": {...}}``) and bare events
  (CdcEventParser.java:51)
* read ``before`` when ``op='d'``, else ``after``
  (CdcEventParser.java:58-62)
* lenient field extraction with defaults ``"UNKNOWN"`` / ``0`` / ``0.0``
  (CdcEventParser.java:76-86, 104-115)
* decimal-as-string → double, ``0.0`` on parse failure
  (CdcEventParser.java:104-115; Debezium ``decimal.handling.mode=string``)
* derived ``cdc_latency_ms = ts_ms − source.ts_ms``
  (CdcEventParser.java:66-72, 88-90)
* drop tombstones / malformed JSON / rows with no image — 0-or-1 output
  rows per input (CdcEventParser.java:94-96)

All of this is built-in Spark (``from_json`` PERMISSIVE + column
expressions): JVM-side, whole-stage-codegen'd, no Python in the hot
path — it scales with the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.schemas import ENVELOPE_SCHEMA


def _num(col: Column, default: float = 0.0) -> Column:
    """Decimal-string (or bare number) → double with 0.0 fallback.

    ``try_cast`` (not ``cast``): ANSI mode would throw on garbage input,
    but the reference drops to a default instead
    (CdcEventParser.java:104-115).
    """
    return F.coalesce(col.try_cast("double"), F.lit(default))


def _unwrap_envelope(raw: DataFrame, value_col: str, *keep: str) -> DataFrame:
    """Envelope unwrap shared by both parsers: op / before / after /
    source_ts / cdc_ts from the payload wrapper, falling back to bare
    fields, plus ``data`` — the row image (``before`` for deletes,
    ``after`` otherwise). ``keep`` columns of ``raw`` ride along first."""
    parsed = raw.withColumn("_env", F.from_json(F.col(value_col), ENVELOPE_SCHEMA))
    p = parsed.select(
        *keep,
        F.coalesce(F.col("_env.payload.op"), F.col("_env.op")).alias("op"),
        F.coalesce(F.col("_env.payload.before"), F.col("_env.before")).alias("before"),
        F.coalesce(F.col("_env.payload.after"), F.col("_env.after")).alias("after"),
        F.coalesce(F.col("_env.payload.source.ts_ms"), F.col("_env.source.ts_ms")).alias(
            "source_ts"
        ),
        F.coalesce(F.col("_env.payload.ts_ms"), F.col("_env.ts_ms")).alias("cdc_ts"),
    )
    data = F.when(F.col("op") == "d", F.col("before")).otherwise(F.col("after"))
    return p.withColumn("data", data)


def parse_cdc_events(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """JSON change-event strings → typed CryptoTradeEvent rows.

    ``raw`` has one string column (default ``value``, the Kafka message
    value). Works identically on batch and streaming DataFrames.
    """
    p = _unwrap_envelope(raw, value_col)
    # Tombstones parse to all-null envelopes; malformed JSON yields null struct.
    p = p.filter(F.col("op").isNotNull() & F.col("data").isNotNull())
    return p.select(
        F.coalesce(F.col("data.trade_id"), F.lit(0)).alias("trade_id"),
        F.coalesce(F.col("data.market"), F.lit("UNKNOWN")).alias("market"),
        _num(F.col("data.trade_price")).alias("trade_price"),
        _num(F.col("data.trade_volume")).alias("trade_volume"),
        _num(F.col("data.trade_amount")).alias("trade_amount"),
        F.coalesce(F.col("data.ask_bid"), F.lit("UNKNOWN")).alias("ask_bid"),
        F.coalesce(F.col("data.upbit_timestamp"), F.lit(0)).alias("upbit_timestamp"),
        F.coalesce(F.col("data.sequential_id"), F.lit(0)).alias("sequential_id"),
        F.col("op"),
        F.coalesce(F.col("source_ts"), F.lit(0)).alias("source_ts"),
        F.coalesce(F.col("cdc_ts"), F.lit(0)).alias("cdc_ts"),
        (F.coalesce(F.col("cdc_ts"), F.lit(0)) - F.coalesce(F.col("source_ts"), F.lit(0))).alias(
            "cdc_latency_ms"
        ),
    )


def parse_cdc_events_with_audit(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse + audit columns instead of silent drops.

    Same extraction as ``parse_cdc_events`` but every input row
    survives, tagged ``_reject_reason ∈ {null, 'tombstone',
    'malformed_json', 'no_row_image'}`` — the
    ``columnNameOfCorruptRecord`` pattern (SURVEY.md §4 "lenient parse"
    row) for pipelines that must account for every message. Filter
    ``_reject_reason IS NULL`` to recover the strict parser's output.
    """
    p = _unwrap_envelope(raw, value_col, value_col)
    reason = (
        F.when(F.col(value_col).isNull(), F.lit("tombstone"))
        .when(F.col("op").isNull() & F.col("data").isNull(), F.lit("malformed_json"))
        .when(F.col("data").isNull(), F.lit("no_row_image"))
        .when(F.col("op").isNull(), F.lit("malformed_json"))
    )
    return p.select(
        F.coalesce(F.col("data.trade_id"), F.lit(0)).alias("trade_id"),
        F.coalesce(F.col("data.market"), F.lit("UNKNOWN")).alias("market"),
        _num(F.col("data.trade_price")).alias("trade_price"),
        F.col("op"),
        reason.alias("_reject_reason"),
    )


def synthesize_cdc_json_from_events(events: DataFrame) -> DataFrame:
    """Wrap driver-fixture ``events`` rows in Debezium-shaped JSON strings.

    Deterministic test-data generator standing in for the reference's
    MySQL→Debezium leg (producer/producer.py + connector): rows with
    ``event_type='error'`` become deletes (image in ``before``), all
    others inserts (image in ``after``). Field mapping follows
    FIXTURES.md §B (user_id ≙ market key, value ≙ price, props.k ≙
    volume). Returns a single-column ``value`` DataFrame of JSON.
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("double")
    image = F.struct(
        F.col("event_id").alias("trade_id"),
        F.concat(F.lit("M-"), F.col("user_id").cast("string")).alias("market"),
        F.col("value").cast("string").alias("trade_price"),  # decimal-as-string
        k.cast("string").alias("trade_volume"),
        (F.col("value") * k).cast("string").alias("trade_amount"),
        F.when(F.col("event_type").isin("click", "purchase"), F.lit("BID"))
        .otherwise(F.lit("ASK"))
        .alias("ask_bid"),
        F.unix_millis(F.col("ts")).alias("upbit_timestamp"),
        F.col("event_id").alias("sequential_id"),
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSS").alias("created_at"),
    )
    is_delete = F.col("event_type") == "error"
    payload = F.struct(
        F.when(is_delete, image).alias("before"),
        F.when(~is_delete, image).alias("after"),
        F.struct(
            F.unix_millis(F.col("ts")).alias("ts_ms"),
            F.lit("crypto_db").alias("db"),
            F.lit("crypto_trades").alias("table"),
        ).alias("source"),
        F.when(is_delete, F.lit("d")).otherwise(F.lit("c")).alias("op"),
        (F.unix_millis(F.col("ts")) + (F.col("event_id") % 10)).alias("ts_ms"),
    )
    return events.select(
        F.to_json(F.struct(payload.alias("payload")), {"ignoreNullFields": "false"}).alias("value")
    )
