"""5-minute keyed tumbling-window aggregate — the reference's core operator.

Re-expresses TradeAggregator.java:23-91 + WindowEnricher
(TradeAggregator.java:97-107). The reference hand-codes one accumulator
with add / merge / getResult; here the same three steps are defined
once and every form of the aggregate — batch, salted, hourly rollup,
streaming, and the fan-out's per-batch partials merged at read
(streaming/job.py) — composes them:

* ``trade_partials`` (add): ``groupBy(window(ts, '5 minutes'), market,
  *keys)`` keeping the re-aggregable partial columns — trade_count,
  bid_count (TradeAggregator.java:43-61), total_amount, total_volume,
  price_sum, min/max price (…:63-77)
* ``merge_trade_partials`` (merge): re-aggregates partials over any
  grouping — the salt, the hour, or the sink's window columns
* ``finalize_trade_agg`` (getResult): ask_count, avg_price = price_sum ÷
  trade_count, vwap = Σamount/Σvolume guarded against zero (…:75)
* ``round_trade_agg``: the oracle-comparable form (see its docstring)

Window start/end are grouping keys taken from ``window(ts)`` —
replaces the ProcessWindowFunction metadata step. Spark's HashAggregateExec runs its
own partial→merge→final phases under the one ``groupBy`` (map-side
combine before the key shuffle, SURVEY.md §4), and the same expression
runs unchanged under Structured Streaming — reference divergence note:
Flink used *processing time* with no watermarks
(CdcPipelineJob.java:62,70); we use event time + watermark, the Spark
idiom (SURVEY.md §2.4 W1).

Prices are assumed non-null: ``parse_cdc_events`` coalesces them to
0.0 and the ``events`` fixture has none. A null price would still count
in trade_count but not in price_sum, so avg_price is Σprice ÷ count(*)
everywhere (the oracles' rule).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.session import load_table

# partial column → its merge function, in ``trade_partials``' output
# order (the fan-out's on-disk ``trade_agg_partials`` schema after
# window_start, window_end, market)
_MERGE = {
    "trade_count": F.sum,
    "bid_count": F.sum,
    "total_amount": F.sum,
    "total_volume": F.sum,
    "price_sum": F.sum,
    "min_price": F.min,
    "max_price": F.max,
}


def events_as_trades(events: DataFrame, *extra: Column) -> DataFrame:
    """``events`` fixture rows → trade shape (FIXTURES.md §B mapping),
    batch or streaming: price ≙ value, volume ≙ props.k (exercises JSON
    extraction, SURVEY §1.2's nested-JSON row), BID ≙ click/purchase,
    amount ≙ price×volume. ``extra`` columns ride along (the salt)."""
    return events.select(
        "ts",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
        F.get_json_object("props", "$.k").cast("double").alias("volume"),
        F.col("event_type").isin("click", "purchase").alias("is_bid"),
        *extra,
    ).withColumn("amount", F.col("price") * F.col("volume"))


def trade_partials(trades: DataFrame, *keys: str) -> DataFrame:
    """Partial aggregate of a trade-shaped frame (ts, market, price,
    volume, amount, is_bid): one row per 5-minute window, market and
    extra ``keys``, columns window_start, window_end, market, *keys,
    then the ``_MERGE`` partials. Batch or streaming."""
    w = F.window("ts", "5 minutes")
    # grouping on the window's start/end (not the struct) names the key
    # columns in the aggregate itself — no projection after it
    return trades.groupBy(
        w.getField("start").alias("window_start"),
        w.getField("end").alias("window_end"),
        "market",
        *keys,
    ).agg(
        F.count("*").alias("trade_count"),
        F.sum(F.when(F.col("is_bid"), 1).otherwise(0)).alias("bid_count"),
        F.sum("amount").alias("total_amount"),
        F.sum("volume").alias("total_volume"),
        F.sum("price").alias("price_sum"),
        F.min("price").alias("min_price"),
        F.max("price").alias("max_price"),
    )


def merge_trade_partials(partials: DataFrame, *keys: str | Column) -> DataFrame:
    """Re-aggregate partials over ``keys`` (counts/sums add, min/max
    fold) — associative, so batch or salt boundaries never change the
    answer."""
    return partials.groupBy(*keys).agg(*(f(c).alias(c) for c, f in _MERGE.items()))


def _vwap(amount: Column, volume: Column) -> Column:
    # zero-volume guard (TradeAggregator.java:75)
    return F.when(volume > 0, amount / volume).otherwise(F.lit(0.0))


def finalize_trade_agg(merged: DataFrame, *keys: str) -> DataFrame:
    """Final trade aggregate from merged partials: ``keys`` first, then
    trade_count, bid_count, ask_count, total_amount, total_volume,
    avg_price, min_price, max_price, vwap."""
    return merged.select(
        *keys,
        "trade_count",
        "bid_count",
        (F.col("trade_count") - F.col("bid_count")).alias("ask_count"),
        "total_amount",
        "total_volume",
        (F.col("price_sum") / F.col("trade_count")).alias("avg_price"),
        "min_price",
        "max_price",
        _vwap(F.col("total_amount"), F.col("total_volume")).alias("vwap"),
    )


def round_trade_agg(final: DataFrame) -> DataFrame:
    """Oracle form of a finalized aggregate: every double rounded to 4
    places with the shared +1e-9 tie nudge. Cross-engine float
    discipline (caught by the sf0.1 sweep, not sf0.01): Σ-order differs
    between engines, so a ratio of raw sums can straddle a round-4
    boundary (one window's vwap read .55375±ε from opposite sides).
    vwap is therefore recomputed from the ROUNDED sums — both engines
    then divide identical inputs."""

    def r(c: Column) -> Column:
        return F.round(c + 1e-9, 4)

    ra, rv = r(F.col("total_amount")), r(F.col("total_volume"))
    rounded = {
        "total_amount": ra,
        "total_volume": rv,
        "avg_price": r(F.col("avg_price")),
        "min_price": r(F.col("min_price")),
        "max_price": r(F.col("max_price")),
        "vwap": r(_vwap(ra, rv)),
    }
    return final.select(
        *(rounded[c].alias(c) if c in rounded else c for c in final.columns)
    )


def trade_window_agg(df: DataFrame) -> DataFrame:
    """Keyed tumbling-window trade aggregate (A1-A3) over any
    trade-shaped DataFrame; batch or streaming."""
    return finalize_trade_agg(trade_partials(df), "market", "window_start", "window_end")


def events_window_agg_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A3 over the ``events`` fixture, in oracle form."""
    return round_trade_agg(
        trade_window_agg(events_as_trades(load_table(spark, sf_dir, "events")))
    )


# Spark tumbling windows are epoch-aligned; floor(epoch/300)*300 is the
# identical bucketing in portable SQL.
EVENTS_WINDOW_AGG_5M_SQL = """
WITH ev AS (
  SELECT ts,
         user_id AS market,
         value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume,
         event_type IN ('click','purchase') AS is_bid,
         value * CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount
  FROM events
)
SELECT market,
       make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS window_start,
       make_timestamp((CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) + 300) * 1000000) AS window_end,
       count(*) AS trade_count,
       count(CASE WHEN is_bid THEN 1 END) AS bid_count,
       count(*) - count(CASE WHEN is_bid THEN 1 END) AS ask_count,
       round(sum(amount) + 1e-9, 4) AS total_amount,
       round(sum(volume) + 1e-9, 4) AS total_volume,
       round(coalesce(avg(price), 0.0) + 1e-9, 4) AS avg_price,
       round(coalesce(min(price), 0.0) + 1e-9, 4) AS min_price,
       round(coalesce(max(price), 0.0) + 1e-9, 4) AS max_price,
       round(CASE WHEN round(sum(volume) + 1e-9, 4) > 0
                  THEN round(sum(amount) + 1e-9, 4) / round(sum(volume) + 1e-9, 4)
                  ELSE 0.0 END + 1e-9, 4) AS vwap
FROM ev
GROUP BY 1, 2, 3
"""


def events_window_agg_5m_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same A1-A3 aggregate under hot-key salting (SURVEY §7 "salted
    keys documented for hot markets").

    Phase 1 aggregates on (window, key, salt) — a hot key's rows spread
    over SALT_BUCKETS reducers; phase 2 merges the salt partials. The
    partials are re-aggregable, so the result is bit-identical to the
    unsalted plan — it shares the same oracle. The fixture's 150
    uniform keys don't *need* salting; this is the pattern proof for
    the BTC/ETH-dominated distribution the reference ingests
    (FIXTURES.md §A1 "few hot keys").
    """
    salt_buckets = 8
    ev = load_table(spark, sf_dir, "events")
    phase1 = trade_partials(
        events_as_trades(ev, (F.col("event_id") % salt_buckets).alias("salt")), "salt"
    )
    keys = ("market", "window_start", "window_end")
    return round_trade_agg(finalize_trade_agg(merge_trade_partials(phase1, *keys), *keys))


def events_window_agg_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window: 10-minute windows every 5 minutes —
    each event lands in exactly two windows. ``F.window(ts, size,
    slide)`` plans an explode over the overlapping windows then the
    same partial+final hash aggregate; the oracle reproduces it with a
    2-row bucket union.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("user_id").alias("market"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(
            "market",
            F.col("w.start").alias("window_start"),
            "n",
            "total",
        )
    )


EVENTS_WINDOW_AGG_SLIDING_SQL = """
WITH buckets AS (
  SELECT user_id AS market, value,
         CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) - off AS win_start_s
  FROM events, (SELECT unnest([0, 300]) AS off)
)
SELECT market,
       make_timestamp(win_start_s * 1000000) AS window_start,
       count(*) AS n,
       round(sum(value), 4) AS total
FROM buckets
GROUP BY market, win_start_s
"""


def events_window_agg_1h_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly aggregate rolled up FROM the 5-minute partials — the
    continuous-aggregate / hypertable-rollup pattern: coarser grains
    re-aggregate finer partials instead of re-scanning raw ticks,
    which at 100 TB is the difference between touching 12 rows per
    market-hour and touching every tick again. The oracle aggregates
    the RAW table at 1 h directly — proving the two-level rollup is
    exactly the single-level answer.

    Same re-aggregability contract the MV analog (streaming/mv.py)
    and the salted variant rely on; this query pins it across a grain
    change.
    """
    partials_5m = trade_partials(events_as_trades(load_table(spark, sf_dir, "events")))
    # 5-min windows are epoch-aligned, so flooring the window START to
    # the hour assigns each partial to exactly one parent window
    start_s = F.unix_seconds("window_start")
    hour = F.timestamp_seconds(start_s - start_s % 3600).alias("hour_start")
    merged = merge_trade_partials(partials_5m, hour, "market")
    return round_trade_agg(finalize_trade_agg(merged, "market", "hour_start"))


EVENTS_WINDOW_AGG_1H_SQL = """
WITH ev AS (
  SELECT ts,
         user_id AS market,
         value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume,
         event_type IN ('click','purchase') AS is_bid,
         value * CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount
  FROM events
)
SELECT market,
       make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS hour_start,
       count(*) AS trade_count,
       count(CASE WHEN is_bid THEN 1 END) AS bid_count,
       count(*) - count(CASE WHEN is_bid THEN 1 END) AS ask_count,
       round(sum(amount) + 1e-9, 4) AS total_amount,
       round(sum(volume) + 1e-9, 4) AS total_volume,
       round(sum(price) / count(*) + 1e-9, 4) AS avg_price,
       round(min(price) + 1e-9, 4) AS min_price,
       round(max(price) + 1e-9, 4) AS max_price,
       round(CASE WHEN round(sum(volume) + 1e-9, 4) > 0
                  THEN round(sum(amount) + 1e-9, 4) / round(sum(volume) + 1e-9, 4)
                  ELSE 0.0 END + 1e-9, 4) AS vwap
FROM ev
GROUP BY 1, 2
"""


QUERIES = {
    "window_agg_5m": events_window_agg_5m,
    "window_agg_5m_salted": events_window_agg_5m_salted,
    "window_agg_sliding": events_window_agg_sliding,
    "window_agg_1h_rollup": events_window_agg_1h_rollup,
}
ORACLES = {
    "window_agg_5m": EVENTS_WINDOW_AGG_5M_SQL,
    # salting must not change the answer — same oracle as the unsalted plan
    "window_agg_5m_salted": EVENTS_WINDOW_AGG_5M_SQL,
    "window_agg_sliding": EVENTS_WINDOW_AGG_SLIDING_SQL,
    # the rollup must equal the direct 1 h aggregate over raw rows
    "window_agg_1h_rollup": EVENTS_WINDOW_AGG_1H_SQL,
}
