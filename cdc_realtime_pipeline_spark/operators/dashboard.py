"""The reference dashboard's 12 analytical queries, Spark-first.

The reference's canonical read workload is 12 Grafana panels running raw
SQL against ClickHouse (grafana/.../cdc-pipeline.json:12-249 — SURVEY.md
§2 rows P5-P9, A4-A7, O1-O3, §3.3). Here each panel's semantics are
re-expressed over the driver's ``events`` fixture (FIXTURES.md §B
mapping: user_id ≙ market, value ≙ price/latency, event_type ≙
op/ask_bid) as declarative DataFrame plans.

Determinism for the DuckDB oracle: every wall-clock ``now()`` in the
reference becomes ``max(ts)`` of the table (fixed data ⇒ fixed answer),
every float aggregate is rounded, and every top-N has a total
tie-breaking order.

Scale posture: each query is scan → (filter) → partial agg → final agg;
filters and projections push into the parquet scan; the ``max(ts)``
scalar subquery is a broadcast-joined 1-row aggregate, not a
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.session import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _with_max_ts(df: DataFrame) -> DataFrame:
    """Attach scalar ``max_ts`` via a broadcast 1-row cross join.

    Replaces the dashboard's ``now()`` anchor (cdc-pipeline.json:39,59,…)
    deterministically. Broadcasting a single aggregated row costs one
    tiny extra stage at any scale — no collect, no shuffle of the fact.
    """
    mx = df.agg(F.max("ts").alias("max_ts"))
    return df.crossJoin(F.broadcast(mx))


# -- panel 1: "Total Trades" — count() WHERE op='c' (cdc-pipeline.json:20)
def total_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .agg(F.count("*").alias("total_trades"))
    )


TOTAL_TRADES_SQL = """
SELECT count(*) AS total_trades FROM events WHERE event_type = 'purchase'
"""


# -- panel 2: hourly trade volume — sum(trade_amount) last hour (cdc-pipeline.json:59)
def volume_last_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_max_ts(_events(spark, sf_dir))
    return (
        ev.filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 1 DAY"))
        .agg(F.round(F.sum("value"), 4).alias("total_value"), F.count("*").alias("n"))
    )


VOLUME_LAST_DAY_SQL = """
SELECT round(sum(value), 4) AS total_value, count(*) AS n
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
"""


# -- panel 3: avg CDC latency, rounded — round(avg(cdc_latency_ms),1) (cdc-pipeline.json:39)
def avg_latency_last_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_max_ts(_events(spark, sf_dir))
    return (
        ev.filter(
            (F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 1 DAY"))
            & F.col("event_type").isin("click", "view")
        )
        .agg(F.round(F.avg("value"), 1).alias("avg_latency"))
    )


AVG_LATENCY_LAST_DAY_SQL = """
SELECT round(avg(value), 1) AS avg_latency
FROM events
WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
  AND event_type IN ('click', 'view')
"""


# -- panel 4: active markets — uniq(market) (cdc-pipeline.json:98)
def distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact count-distinct for the oracle gate; the approximate variant
    # (ClickHouse `uniq` ≙ approx_count_distinct) is a separate query.
    return _events(spark, sf_dir).agg(F.countDistinct("user_id").alias("n_users"))


DISTINCT_USERS_SQL = "SELECT count(DISTINCT user_id) AS n_users FROM events"


def rolling_7d_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the retention
    dashboard's staple, and the pattern distinct-counts force at scale:
    COUNT(DISTINCT) is not mergeable across window frames, so the
    rolling form materializes the (day, user) distinct pairs once
    (events collapse map-side) and re-counts each 7-day span through a
    bounded interval self-join (|days| × 7 fan-out of the tiny daily
    relation — never the raw events). The HLL-sketch alternative for
    re-aggregable approximate spans is ``daily_users_hll_rollup``.
    """
    daily = (
        _events(spark, sf_dir)
        .select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .distinct()
    )
    days = daily.select("day").distinct().select(F.col("day").alias("anchor"))
    j = days.join(
        daily,
        (F.col("day") <= F.col("anchor"))
        & (F.col("day") >= F.col("anchor") - F.expr("INTERVAL 6 DAYS")),
    )
    return (
        j.groupBy("anchor")
        .agg(F.countDistinct("user_id").alias("dau_7d"))
        .select(F.col("anchor").alias("day"), "dau_7d")
        .orderBy("day")
    )


ROLLING_7D_DAU_SQL = """
WITH daily AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
  FROM events
),
days AS (SELECT DISTINCT day AS anchor FROM daily)
SELECT anchor AS day, count(DISTINCT user_id) AS dau_7d
FROM days JOIN daily
  ON daily.day <= anchor AND daily.day >= anchor - INTERVAL 6 DAY
GROUP BY anchor ORDER BY anchor
"""


def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``uniq()`` parity — HLL-family approximate distinct.

    No oracle entry: the approximate VALUE differs across engines by
    design (driver records the rows-only check). The row still carries
    a self-checking invariant (VERDICT r2 #6): the exact twin rides
    along with the relative error and a flag asserting it sits inside
    5× the sketch's configured rsd — a regression that breaks the
    sketch (wrong column, wrong rsd, broken merge) flips
    ``within_bound`` to false even under a rows-only gate.
    """
    rsd = 0.01
    agg = _events(spark, sf_dir).agg(
        F.approx_count_distinct("user_id", rsd=rsd).alias("n_users_approx"),
        F.countDistinct("user_id").alias("n_users_exact"),
    )
    rel_err = F.abs(F.col("n_users_approx") - F.col("n_users_exact")) / F.col(
        "n_users_exact"
    )
    return agg.select(
        "n_users_approx",
        "n_users_exact",
        F.round(rel_err, 6).alias("rel_err"),
        (rel_err <= 5 * rsd).alias("within_bound"),
    )


# -- panel 5: pipeline liveness — if(max(inserted_at) >= now()-5m, 1, 0) (cdc-pipeline.json:117)
def pipeline_liveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_max_ts(_events(spark, sf_dir))
    return ev.agg(
        F.when(
            F.max("ts") >= F.first("max_ts") - F.expr("INTERVAL 5 MINUTES"), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("alive")
    )


PIPELINE_LIVENESS_SQL = """
SELECT CASE WHEN max(ts) >= (SELECT max(ts) FROM events) - INTERVAL 5 MINUTE
            THEN 1 ELSE 0 END AS alive
FROM events
"""


# -- panel 6: per-minute latency time series (cdc-pipeline.json:154; A6)
def latency_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.round(F.avg("value"), 4).alias("avg_latency"),
            F.round(F.max("value"), 4).alias("max_latency"),
        )
        .orderBy("minute")
    )


LATENCY_PER_MINUTE_SQL = """
SELECT date_trunc('minute', ts) AS minute,
       round(avg(value), 4) AS avg_latency,
       round(max(value), 4) AS max_latency
FROM events
GROUP BY 1 ORDER BY 1
"""


# -- panel 7: per-minute BTC price — WHERE market='KRW-BTC' (cdc-pipeline.json:175; P7+A6)
def price_per_minute_single_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .filter(F.col("user_id") == 42)
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.round(F.avg("value"), 4).alias("avg_price"),
            F.round(F.min("value"), 4).alias("min_price"),
            F.round(F.max("value"), 4).alias("max_price"),
        )
        .orderBy("minute")
    )


PRICE_PER_MINUTE_SINGLE_KEY_SQL = """
SELECT date_trunc('minute', ts) AS minute,
       round(avg(value), 4) AS avg_price,
       round(min(value), 4) AS min_price,
       round(max(value), 4) AS max_price
FROM events
WHERE user_id = 42
GROUP BY 1 ORDER BY 1
"""


# -- panel 8: bid/ask ranking — GROUP BY market ORDER BY bid+ask DESC (cdc-pipeline.json:194; A7/O2)
def bid_ask_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    bid = F.sum(F.when(F.col("event_type").isin("click", "purchase"), 1).otherwise(0))
    ask = F.sum(F.when(~F.col("event_type").isin("click", "purchase"), 1).otherwise(0))
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(bid.alias("bid_count"), ask.alias("ask_count"))
        .orderBy(
            F.desc(F.col("bid_count") + F.col("ask_count")), F.asc("user_id")
        )
    )


BID_ASK_RANKING_SQL = """
SELECT user_id,
       count(CASE WHEN event_type IN ('click','purchase') THEN 1 END) AS bid_count,
       count(CASE WHEN event_type NOT IN ('click','purchase') THEN 1 END) AS ask_count
FROM events
GROUP BY user_id
ORDER BY bid_count + ask_count DESC, user_id ASC
"""


# -- panel 9: recent alerts — ORDER BY detected_at DESC LIMIT 50 (cdc-pipeline.json:208; O1)
def recent_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Catalyst plans this as TakeOrderedAndProject (distributed top-K,
    # no full sort). event_id breaks ts ties deterministically.
    return (
        _events(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts", "user_id", F.round("value", 4).alias("value"))
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(50)
    )


RECENT_ALERTS_SQL = """
SELECT event_id, ts, user_id, round(value, 4) AS value
FROM events WHERE event_type = 'error'
ORDER BY ts DESC, event_id DESC LIMIT 50
"""


# -- panel 10: live trade feed — ORDER BY source_ts DESC LIMIT 30 (cdc-pipeline.json:232; O1)
def live_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .select("event_id", "ts", "user_id", "event_type", F.round("value", 4).alias("value"))
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .limit(30)
    )


LIVE_TRADES_SQL = """
SELECT event_id, ts, user_id, event_type, round(value, 4) AS value
FROM events
ORDER BY ts DESC, event_id DESC LIMIT 30
"""


# -- panel 11/12 + MV read: per-minute latency stats maintained as partials
# (AggregatingMergeTree mv_latency_stats, clickhouse/init.sql:81-94; A8).
def latency_mv_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-at-read over (sum,count,min,max) partials.

    Mirrors ClickHouse's ``avgMerge``/``maxMerge`` over an
    AggregatingMergeTree: the inner aggregation is the incrementally
    maintainable partial state; the outer select finalizes. In the
    streaming engine the inner table is maintained by
    ``streaming.mv.start_latency_mv``, one partials batch per micro-batch.
    """
    partials = (
        _events(spark, sf_dir)
        .filter(F.col("event_type").isin("click", "view", "error"))
        .groupBy(F.date_trunc("minute", F.col("ts")).alias("minute"))
        .agg(
            F.sum("value").alias("sum_latency"),
            F.count("value").alias("cnt_latency"),
            F.min("value").alias("min_latency"),
            F.max("value").alias("max_latency"),
        )
    )
    # +1e-9 nudges: Σ-order and half-rounding differ across engines;
    # an avg landing on a round-4 boundary diverges without them
    # (caught by the sf0.1 sweep)
    return partials.select(
        "minute",
        F.round(F.col("sum_latency") / F.col("cnt_latency") + 1e-9, 4).alias(
            "avg_latency"
        ),
        F.round(F.col("min_latency") + 1e-9, 4).alias("min_latency"),
        F.round(F.col("max_latency") + 1e-9, 4).alias("max_latency"),
        F.col("cnt_latency").alias("n"),
    ).orderBy("minute")


LATENCY_MV_READ_SQL = """
WITH partials AS (
  SELECT date_trunc('minute', ts) AS minute,
         sum(value) AS sum_latency, count(value) AS cnt_latency,
         min(value) AS min_latency, max(value) AS max_latency
  FROM events
  WHERE event_type IN ('click','view','error')
  GROUP BY 1
)
SELECT minute,
       round(sum_latency / cnt_latency + 1e-9, 4) AS avg_latency,
       round(min_latency + 1e-9, 4) AS min_latency,
       round(max_latency + 1e-9, 4) AS max_latency,
       cnt_latency AS n
FROM partials ORDER BY minute
"""



# -- latest value per key per day — the "current price" panel shape
def latest_value_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < 20)
    daily = ev.groupBy(
        F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        # max_by with a deterministic composite orderer (ts then id)
        F.expr("max_by(value, struct(ts, event_id))").alias("last_value"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n"),
    )
    return daily.select(
        "user_id", "day", F.round("last_value", 4).alias("last_value"), "last_ts", "n"
    )


LATEST_VALUE_PER_DAY_SQL = """
WITH ranked AS (
  SELECT user_id, date_trunc('day', ts) AS day, value, ts, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                            ORDER BY ts DESC, event_id DESC) AS rk,
         count(*) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS n
  FROM events WHERE user_id < 20
)
SELECT user_id, CAST(day AS TIMESTAMP) AS day,
       round(value, 4) AS last_value, ts AS last_ts, n
FROM ranked WHERE rk = 1
"""


QUERIES = {
    "dash_total_trades": total_trades,
    "dash_volume_last_day": volume_last_day,
    "dash_avg_latency_last_day": avg_latency_last_day,
    "dash_distinct_users": distinct_users,
    "dash_rolling_7d_dau": rolling_7d_dau,
    "dash_approx_distinct_users": approx_distinct_users,
    "dash_pipeline_liveness": pipeline_liveness,
    "dash_latency_per_minute": latency_per_minute,
    "dash_price_per_minute_single_key": price_per_minute_single_key,
    "dash_bid_ask_ranking": bid_ask_ranking,
    "dash_recent_alerts": recent_alerts,
    "dash_live_trades": live_trades,
    "dash_latency_mv_read": latency_mv_read,
    "dash_latest_value_per_day": latest_value_per_day,
}

ORACLES = {
    "dash_total_trades": TOTAL_TRADES_SQL,
    "dash_volume_last_day": VOLUME_LAST_DAY_SQL,
    "dash_avg_latency_last_day": AVG_LATENCY_LAST_DAY_SQL,
    "dash_distinct_users": DISTINCT_USERS_SQL,
    "dash_rolling_7d_dau": ROLLING_7D_DAU_SQL,
    # dash_approx_distinct_users: intentionally no oracle (approximate)
    "dash_pipeline_liveness": PIPELINE_LIVENESS_SQL,
    "dash_latency_per_minute": LATENCY_PER_MINUTE_SQL,
    "dash_price_per_minute_single_key": PRICE_PER_MINUTE_SINGLE_KEY_SQL,
    "dash_bid_ask_ranking": BID_ASK_RANKING_SQL,
    "dash_recent_alerts": RECENT_ALERTS_SQL,
    "dash_live_trades": LIVE_TRADES_SQL,
    "dash_latency_mv_read": LATENCY_MV_READ_SQL,
    "dash_latest_value_per_day": LATEST_VALUE_PER_DAY_SQL,
}
