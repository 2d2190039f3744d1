"""Anomaly-rule operators — batch analogs of the reference's detector.

The reference runs four rules in a Flink ``KeyedProcessFunction`` over
per-market ValueState (AnomalyDetector.java:56-176 — SURVEY.md §2.4
W2-W6). The streaming engine implements the same rules statefully in
``streaming/anomaly_stateful.py``; this module provides the *batch
analogs* — pure window-function / closed-form plans that are
oracle-testable and define the golden semantics the streaming path must
match:

* LARGE_TRADE  (W3): stateless threshold by key group
  (AnomalyDetector.java:107-115, per-market thresholds 182-186)
* PRICE_SPIKE  (W4): change vs previous event per key
  (AnomalyDetector.java:117-131) → ``lag() OVER (PARTITION BY key)``
* VOLUME_SURGE (W5): EMA-relative surge after a min-sample gate
  (AnomalyDetector.java:133-145, EMA recurrence 147-154) → closed-form
  EMA via a cumulative window sum (see note below)
* RAPID_TRADES (W6): fire exactly when the rolling count hits the
  threshold (``==`` not ``>=`` — AnomalyDetector.java:156-175) →
  range-frame window on epoch millis

Thresholds are scaled to the driver fixture's value distribution
(value ∈ [0, 490], ~67 events/user/month) — the reference's absolute
KRW thresholds (5e8/3e8/1e8) would never fire here; the *rule shapes*
are identical.

Scale note: each rule is one shuffle on the key (window partition) —
the same key-hash parallelism as the reference's ``keyBy``. The
closed-form EMA is numerically valid to ~10k events per key
(0.95^-10000 overflows a double beyond that); at unbounded per-key
history the streaming stateful path is the production route.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.session import load_table

# Per-key-group thresholds, the fixture analog of the per-market
# BTC/ETH/default tiers (AnomalyDetector.java:182-196): entry i applies
# to keys with key % 3 == i, the last entry to every later residue and
# to markets without a numeric key.
_LARGE_TIERS = (450.0, 400.0, 350.0)
_SPIKE_TIERS = (2.0, 3.0)
_EMA_ALPHA = 0.05
_SURGE_MULT = 2.0  # reference: 50× (AnomalyDetector.java:71)
_SURGE_MIN_SAMPLES = 10  # reference: ≥50 samples (AnomalyDetector.java:137)
_RAPID_WINDOW_MS = 3_600_000  # reference: 10 s (AnomalyDetector.java:75)
# reference: 100 (AnomalyDetector.java:74); 3 fires ~30×/month at the
# fixture's ~2 events/user/day density — 5 would never fire (vacuous)
_RAPID_COUNT = 3


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _tier(tiers: tuple[float, ...], key: int) -> float:
    """The threshold of integer ``key`` under ``tiers``."""
    return tiers[min(key % 3, len(tiers) - 1)]


def _tier_col(tiers: tuple[float, ...]) -> F.Column:
    # market.contains("BTC")-style tiering (AnomalyDetector.java:182-186),
    # keyed on user_id % 3 for the fixture.
    col = F.when(F.col("user_id") % 3 == 0, F.lit(tiers[0]))
    for i in range(1, len(tiers) - 1):
        col = col.when(F.col("user_id") % 3 == i, F.lit(tiers[i]))
    return col.otherwise(F.lit(tiers[-1]))


def alerts_large_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: amount ≥ θ(key) — stateless filter + formatted message."""
    ev = _events(spark, sf_dir).withColumn("threshold", _tier_col(_LARGE_TIERS))
    return (
        ev.filter(F.col("value") >= F.col("threshold"))
        .select(
            F.lit("LARGE_TRADE").alias("alert_type"),
            F.col("user_id").alias("market"),
            F.col("event_id").alias("trade_id"),
            F.format_string(
                "large trade %d: %.2f >= %.2f", "user_id", "value", "threshold"
            ).alias("message"),
            F.round("value", 4).alias("value"),
            F.col("threshold"),
            F.col("ts").alias("detected_at"),
        )
    )


ALERTS_LARGE_TRADE_SQL = f"""
WITH ev AS (
  SELECT *,
         CAST(CASE WHEN user_id % 3 = 0 THEN {_LARGE_TIERS[0]}
                   WHEN user_id % 3 = 1 THEN {_LARGE_TIERS[1]}
                   ELSE {_LARGE_TIERS[2]} END AS DOUBLE) AS threshold
  FROM events
)
SELECT 'LARGE_TRADE' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       printf('large trade %d: %.2f >= %.2f', user_id, value, threshold) AS message,
       round(value, 4) AS value,
       threshold,
       ts AS detected_at
FROM ev WHERE value >= threshold
"""


def alerts_price_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: |price − lag(price)| / lag(price) ≥ θ(key), per key in ts order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    theta = _tier_col(_SPIKE_TIERS)
    ev = (
        _events(spark, sf_dir)
        .withColumn("prev_price", F.lag("value").over(w))
        .withColumn("threshold", theta)
    )
    rate = F.abs(F.col("value") - F.col("prev_price")) / F.col("prev_price")
    return (
        ev.filter(F.col("prev_price").isNotNull() & (F.col("prev_price") > 0) & (rate >= theta))
        .select(
            F.lit("PRICE_SPIKE").alias("alert_type"),
            F.col("user_id").alias("market"),
            F.col("event_id").alias("trade_id"),
            # +1e-9: Spark rounds half-up, DuckDB half-even — a rate
            # landing exactly on .xxxx5 diverges without the nudge
            # (caught by the sf0.1 sweep)
            F.round(rate + 1e-9, 4).alias("value"),
            F.col("threshold"),
            F.col("ts").alias("detected_at"),
        )
    )


ALERTS_PRICE_SPIKE_SQL = f"""
WITH ev AS (
  SELECT *,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_price,
         CAST(CASE WHEN user_id % 3 = 0 THEN {_SPIKE_TIERS[0]} ELSE {_SPIKE_TIERS[1]} END AS DOUBLE) AS threshold
  FROM events
)
SELECT 'PRICE_SPIKE' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       round(abs(value - prev_price) / prev_price + 1e-9, 4) AS value,
       threshold,
       ts AS detected_at
FROM ev
WHERE prev_price IS NOT NULL AND prev_price > 0
  AND abs(value - prev_price) / prev_price >= threshold
"""


def _ema_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events with ``vol`` (= props.k) and ``ema_k``, the per-key EMA
    over rows 1..k in (ts, event_id) order, in closed form:

        e_k = (1−α)^(k−1)·v_1 + α·Σ_{i=2..k} (1−α)^(k−i)·v_i

    computed with one cumulative sum over w_i = v_i·(1−α)^(−i) — both
    engines evaluate the running sum in identical frame order, so float
    results agree to ulp level and ``round()`` stabilizes comparisons.
    """
    a = _EMA_ALPHA
    ev = _events(spark, sf_dir).select(
        "event_id",
        "ts",
        "user_id",
        F.get_json_object("props", "$.k").cast("double").alias("vol"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("w_i", F.col("vol") * F.pow(F.lit(1 - a), -F.col("rn")))
        .withColumn("cum_w", F.sum("w_i").over(wcum))
        .withColumn("first_vol", F.first("vol").over(wcum))
    )
    ema_k = F.pow(F.lit(1 - a), F.col("rn") - 1) * F.col("first_vol") + F.lit(a) * (
        F.pow(F.lit(1 - a), F.col("rn"))
        * (F.col("cum_w") - F.col("first_vol") * F.pow(F.lit(1 - a), F.lit(-1.0)))
    )
    return ev.withColumn("ema_k", ema_k)


def alerts_volume_surge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: volume ≥ mult × EMA(prev volumes), after ≥N samples per key.

    EMA recurrence (AnomalyDetector.java:147-154): seeded with the first
    value, e_k = (1−α)·e_{k−1} + α·v_k; the rule compares v_k against
    the EMA of rows 1..k−1. The closed form (``_ema_by_key``) keeps the
    whole rule JVM-side and oracle-checkable.
    """
    # the rule uses the EMA *before* this row, i.e. EMA at k−1,
    # matching "update state after check" ordering
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _ema_by_key(spark, sf_dir).withColumn("ema_prev", F.lag("ema_k").over(w))
    return (
        ev.filter(
            (F.col("rn") > _SURGE_MIN_SAMPLES)
            & (F.col("ema_prev") > 0)
            & (F.col("vol") >= F.lit(_SURGE_MULT) * F.col("ema_prev"))
        )
        .select(
            F.lit("VOLUME_SURGE").alias("alert_type"),
            F.col("user_id").alias("market"),
            F.col("event_id").alias("trade_id"),
            F.round("vol", 4).alias("value"),
            F.round(F.lit(_SURGE_MULT) * F.col("ema_prev"), 4).alias("threshold"),
            F.col("ts").alias("detected_at"),
        )
    )


ALERTS_VOLUME_SURGE_SQL = f"""
WITH ev AS (
  SELECT event_id, ts, user_id,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS vol,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), cum AS (
  SELECT *,
         sum(vol * power({1 - _EMA_ALPHA}, -rn))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         first_value(vol)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_vol
  FROM ev
), ema AS (
  SELECT *,
         power({1 - _EMA_ALPHA}, rn - 1) * first_vol
           + {_EMA_ALPHA} * (power({1 - _EMA_ALPHA}, rn)
               * (cum_w - first_vol * power({1 - _EMA_ALPHA}, -1.0))) AS ema_k
  FROM cum
), lagged AS (
  SELECT *, lag(ema_k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ema_prev
  FROM ema
)
SELECT 'VOLUME_SURGE' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       round(vol, 4) AS value,
       round({_SURGE_MULT} * ema_prev, 4) AS threshold,
       ts AS detected_at
FROM lagged
WHERE rn > {_SURGE_MIN_SAMPLES} AND ema_prev > 0 AND vol >= {_SURGE_MULT} * ema_prev
"""


def ema_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 as a standalone operator: per-key exponential moving average
    (α=0.05, seeded with the first value — AnomalyDetector.java:133-154),
    final value and sample count per key.

    ``_ema_by_key``'s closed form, as in the volume-surge rule; the
    last row per key carries the final EMA.
    """
    ev = _ema_by_key(spark, sf_dir)
    wmax = Window.partitionBy("user_id")
    return (
        ev.withColumn("max_rn", F.max("rn").over(wmax))
        .filter(F.col("rn") == F.col("max_rn"))
        .select(
            F.col("user_id"),
            F.col("rn").alias("n_samples"),
            F.round("ema_k", 6).alias("ema"),
        )
    )


EMA_PER_KEY_SQL = f"""
WITH ev AS (
  SELECT event_id, ts, user_id,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS vol,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), cum AS (
  SELECT *,
         sum(vol * power({1 - _EMA_ALPHA}, -rn))
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
         first_value(vol)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_vol
  FROM ev
), ema AS (
  SELECT *,
         power({1 - _EMA_ALPHA}, rn - 1) * first_vol
           + {_EMA_ALPHA} * (power({1 - _EMA_ALPHA}, rn)
               * (cum_w - first_vol * power({1 - _EMA_ALPHA}, -1.0))) AS ema_k,
         max(rn) OVER (PARTITION BY user_id) AS max_rn
  FROM cum
)
SELECT user_id, rn AS n_samples, round(ema_k, 6) AS ema
FROM ema WHERE rn = max_rn
"""


def alerts_rapid_trades(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: rolling count per key over a time range; fire exactly at ==N.

    Range frame on epoch millis (value-based, so it is deterministic
    under ties, unlike a rows frame).
    """
    ev = _events(spark, sf_dir).withColumn("ts_ms", F.unix_millis("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-_RAPID_WINDOW_MS, 0)
    )
    ev = ev.withColumn("cnt", F.count("*").over(w))
    return (
        ev.filter(F.col("cnt") == _RAPID_COUNT)
        .select(
            F.lit("RAPID_TRADES").alias("alert_type"),
            F.col("user_id").alias("market"),
            F.col("event_id").alias("trade_id"),
            F.col("cnt").cast("double").alias("value"),
            F.lit(float(_RAPID_COUNT)).alias("threshold"),
            F.col("ts").alias("detected_at"),
        )
    )


ALERTS_RAPID_TRADES_SQL = f"""
WITH ev AS (
  SELECT *,
         count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                        RANGE BETWEEN {_RAPID_WINDOW_MS} PRECEDING AND CURRENT ROW) AS cnt
  FROM events
)
SELECT 'RAPID_TRADES' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       CAST(cnt AS DOUBLE) AS value,
       CAST({_RAPID_COUNT} AS DOUBLE) AS threshold,
       ts AS detected_at
FROM ev WHERE cnt = {_RAPID_COUNT}
"""


def alerts_rapid_trades_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 with the reference's exact reset-on-expiry counter semantics
    (AnomalyDetector.java:156-175): per key, a window anchors at the
    first trade; each trade inside windowStart+W increments the
    counter, a trade past it resets (counter=1, windowStart=its ts);
    fire exactly once when the counter hits ==N.

    The recurrence is inherently sequential per key (windowStart
    depends on every prior reset), so the batch form is a Pandas
    kernel over key-partitioned data: hash-repartition on the key,
    sort within partitions by (key, ts, id), then one ``mapInPandas``
    pass walking each key's contiguous run. One shuffle — identical to
    a groupBy — but ~32 Arrow streams instead of one Arrow batch per
    key (measured: per-group ``applyInPandas`` overhead alone was
    ~4 s for 1500 keys at sf0.1). The oracle replays the identical
    recurrence as a recursive CTE. The rolling-range analog
    (``alerts_rapid_trades``) stays as the pure-window alternative.
    """
    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    n_parts = spark.sparkContext.defaultParallelism
    part = ev.repartition(n_parts, "user_id").sortWithinPartitions(
        "user_id", "ts", "event_id"
    )

    def detect(batches):
        import numpy as np
        import pandas as pd

        # stream the Arrow chunks (VERDICT r11 #3): the walk only needs
        # (prev_uid, win_start, cnt) carried across chunk boundaries —
        # a key's rows spanning batches is fine because the partition
        # is sorted and batches arrive in row order. Peak memory is one
        # Arrow batch + this chunk's alert rows, not the whole hash
        # partition (the old pd.concat bound was corpus/parallelism).
        prev_uid = None
        win_start = 0
        cnt = 0
        for pdf in batches:
            if not len(pdf):
                continue
            ts_ns = pdf["ts"].to_numpy("datetime64[ns]").astype(np.int64)
            uids = pdf["user_id"].to_numpy()
            ids = pdf["event_id"].to_numpy()
            rows = []
            for i in range(len(pdf)):
                tms = int(ts_ns[i]) // 1_000_000  # ns → epoch ms
                if uids[i] != prev_uid or tms > win_start + _RAPID_WINDOW_MS:
                    if uids[i] != prev_uid:
                        prev_uid = uids[i]
                    win_start, cnt = tms, 1
                else:
                    cnt += 1
                if cnt == _RAPID_COUNT:
                    rows.append(
                        (uids[i], ids[i], float(cnt), pdf["ts"].iloc[i])
                    )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=["market", "trade_id", "value", "detected_at"],
                )

    res = part.mapInPandas(
        detect, "market bigint, trade_id bigint, value double, detected_at timestamp"
    )
    return res.select(
        F.lit("RAPID_TRADES").alias("alert_type"),
        "market",
        "trade_id",
        "value",
        F.lit(float(_RAPID_COUNT)).alias("threshold"),
        "detected_at",
    )


ALERTS_RAPID_TRADES_RESET_SQL = f"""
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, ts, epoch_ms(ts) AS tms,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT user_id, event_id, ts, tms, rn, tms AS win_start, 1 AS cnt
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.ts, e.tms, e.rn,
         CASE WHEN e.tms > w.win_start + {_RAPID_WINDOW_MS} THEN e.tms
              ELSE w.win_start END,
         CASE WHEN e.tms > w.win_start + {_RAPID_WINDOW_MS} THEN 1
              ELSE w.cnt + 1 END
  FROM ev e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT 'RAPID_TRADES' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       CAST(cnt AS DOUBLE) AS value,
       CAST({_RAPID_COUNT} AS DOUBLE) AS threshold,
       ts AS detected_at
FROM walk WHERE cnt = {_RAPID_COUNT}
"""


def alerts_large_trade_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 via a broadcast threshold-dimension join — the survey's
    alternative to inline CASE tiers (SURVEY.md §2.2 P11): thresholds
    live in a tiny dimension relation, joined broadcast so the fact
    side never shuffles. The per-market-substring thresholds of the
    reference (AnomalyDetector.java:182-196) become rows, not code.
    """
    thresholds = spark.createDataFrame(
        [(k, _tier(_LARGE_TIERS, k)) for k in range(3)],
        "tier int, threshold double",
    )
    ev = _events(spark, sf_dir).withColumn("tier", (F.col("user_id") % 3).cast("int"))
    return (
        ev.join(F.broadcast(thresholds), "tier")
        .filter(F.col("value") >= F.col("threshold"))
        .select(
            F.lit("LARGE_TRADE").alias("alert_type"),
            F.col("user_id").alias("market"),
            F.col("event_id").alias("trade_id"),
            F.round("value", 4).alias("value"),
            F.col("threshold"),
            F.col("ts").alias("detected_at"),
        )
    )


ALERTS_LARGE_TRADE_LOOKUP_SQL = f"""
WITH thresholds(tier, threshold) AS (
  VALUES (0, CAST({_LARGE_TIERS[0]} AS DOUBLE)),
         (1, CAST({_LARGE_TIERS[1]} AS DOUBLE)),
         (2, CAST({_LARGE_TIERS[2]} AS DOUBLE))
)
SELECT 'LARGE_TRADE' AS alert_type,
       user_id AS market,
       event_id AS trade_id,
       round(value, 4) AS value,
       threshold,
       ts AS detected_at
FROM events JOIN thresholds ON CAST(user_id % 3 AS INTEGER) = tier
WHERE value >= threshold
"""


QUERIES = {
    "alerts_large_trade": alerts_large_trade,
    "alerts_large_trade_lookup_join": alerts_large_trade_lookup_join,
    "alerts_price_spike": alerts_price_spike,
    "alerts_volume_surge": alerts_volume_surge,
    "alerts_rapid_trades": alerts_rapid_trades,
    "alerts_rapid_trades_reset": alerts_rapid_trades_reset,
    "ema_per_key": ema_per_key,
}

ORACLES = {
    "alerts_large_trade": ALERTS_LARGE_TRADE_SQL,
    "alerts_large_trade_lookup_join": ALERTS_LARGE_TRADE_LOOKUP_SQL,
    "alerts_price_spike": ALERTS_PRICE_SPIKE_SQL,
    "alerts_volume_surge": ALERTS_VOLUME_SURGE_SQL,
    "alerts_rapid_trades": ALERTS_RAPID_TRADES_SQL,
    "alerts_rapid_trades_reset": ALERTS_RAPID_TRADES_RESET_SQL,
    "ema_per_key": EMA_PER_KEY_SQL,
}
