"""Tick time-series operators: OHLC bars, TWAP, gap-fill/LOCF resample.

The reference's dashboard family aggregates trades into 5-minute
buckets (TradeAggregator.java:23-91 computes count/sum/avg/min/max/
vwap); what it never provides — and what every market-data or
metrics-over-CDC user reaches for next — are candlestick bars
(open/high/low/close), *time*-weighted averages over irregular ticks,
and resampling onto a regular grid with last-observation-carried-
forward. All three are classic streaming-warehouse operators
(TimescaleDB `time_bucket_gapfill`/`locf`, kdb `xbar`/`wavg`), here
re-expressed as declarative Spark plans:

* **OHLC** — one ``groupBy(window, key)`` with ``min_by``/``max_by``
  on a deterministic (ts, event_id) sort key: single shuffle, partial
  aggregation map-side, no per-key sort. The sort key is a fixed-width
  zero-padded string so first/last ties break identically in any
  engine (struct keys aren't portable to every SQL dialect's
  ``arg_min``).
* **TWAP** — each tick's price weighted by its holding time
  ``min(next_tick, bar_end) − ts``; one window pass per key for
  ``lead(ts)``, then an ordinary grouped sum. One shuffle on (key),
  weights in seconds so double Σ stays well under round-4 noise.
* **gap-fill/LOCF** — per-key bucket aggregate, per-key grid via
  ``sequence()``+``explode`` (grid size = keys × buckets, orders of
  magnitude below tick count at any scale), left join, then
  ``last(value, ignorenulls)`` over the preceding frame. The standard
  partition-parallel LOCF that avoids any driver-side loop.

Fixture mapping per FIXTURES.md §B: market ≙ user_id, price ≙ value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.session import load_table, tracked_persist


def _r4(c):
    """Shared cross-engine rounding discipline (see window_agg.py):
    round half-up boundary ties are nudged off the representation edge
    identically in Spark and the DuckDB oracle."""
    return F.round(c + 1e-9, 4)


# decimal(38,0) tick key = epoch_µs × 10¹² + event_id. Numeric (not a
# padded string) so min_by/max_by keep a fixed-width mutable buffer and
# the planner stays on HashAggregate — a string key demotes the whole
# bar aggregate to Sort+SortAggregate, an O(n log n) per-partition sort
# of every tick (test_plans.py::test_ohlc_single_shuffle_no_sort pins
# this). Room for 10¹² tick ids; integers are exact in decimal/HUGEINT
# on both engines so ties break identically.
_TICK_ID_SPAN = 1_000_000_000_000


def _tick_sort_key(ts_col: str = "ts", id_col: str = "event_id"):
    """Deterministic total order for first/last-in-bucket (see above)."""
    return (
        F.unix_micros(F.col(ts_col)).cast("decimal(24,0)")
        * F.lit(_TICK_ID_SPAN).cast("decimal(13,0)")
        + F.col(id_col).cast("decimal(38,0)")
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "market",
    price_col: str = "price",
    id_col: str = "event_id",
    bar: str = "5 minutes",
) -> DataFrame:
    """Candlestick bars per key: open/high/low/close + tick count.

    Single ``groupBy(window, key)`` — ``min_by``/``max_by`` carry the
    open/close through partial aggregation, so the plan is one shuffle
    with map-side combine regardless of ticks-per-bar skew (no
    row_number sort-within-group pass).
    """
    k = _tick_sort_key(ts_col, id_col)
    return (
        df.groupBy(F.window(F.col(ts_col), bar).alias("w"), F.col(key_col))
        .agg(
            F.min_by(F.col(price_col), k).alias("open"),
            F.max(price_col).alias("high"),
            F.min(price_col).alias("low"),
            F.max_by(F.col(price_col), k).alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )
    )


def ohlc_bars_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute OHLC candles over the events fixture (market ≙ user_id,
    price ≙ value). Prices rounded under the shared tie discipline."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
    )
    out = ohlc_bars(ev)
    return out.select(
        "market",
        "bar_start",
        _r4(F.col("open")).alias("open"),
        _r4(F.col("high")).alias("high"),
        _r4(F.col("low")).alias("low"),
        _r4(F.col("close")).alias("close"),
        "n_ticks",
    )


OHLC_BARS_5M_SQL = """
WITH t AS (
  SELECT user_id AS market,
         value AS price,
         make_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) * 1000000) AS bar_start,
         CAST(epoch_us(ts) AS HUGEINT) * 1000000000000 + event_id AS k
  FROM events
)
SELECT market,
       bar_start,
       round(arg_min(price, k) + 1e-9, 4) AS open,
       round(max(price) + 1e-9, 4) AS high,
       round(min(price) + 1e-9, 4) AS low,
       round(arg_max(price, k) + 1e-9, 4) AS close,
       count(*) AS n_ticks
FROM t
GROUP BY market, bar_start
"""


def twap(
    df: DataFrame,
    bar_seconds: int = 3600,
    ts_col: str = "ts",
    key_col: str = "market",
    price_col: str = "price",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-weighted average price per key per bar.

    Irregular ticks: each price holds from its own timestamp until the
    next tick (or the end of the bar, whichever is first), so sparse
    quiet periods aren't washed out the way a plain tick-count avg
    washes them out. Weight = holding seconds; simultaneous ticks get
    weight 0 (the later-keyed tick wins the interval, matching the
    sort order used everywhere else).

    Plan: one window shuffle on (key) for ``lead(ts)``, then an
    ordinary grouped agg on (key, bar) — partial-aggregated, no
    second sort. Ratio is taken over identically-rounded sums on both
    engines (the vwap discipline; window_agg.py:100-105): Σw is µs
    (integer-exact), Σpw is seconds-scaled so double noise sits ~9
    orders below the 4-dp rounding step.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    epoch_sec = (F.unix_micros(F.col(ts_col)) / 1_000_000).cast("long")
    bar_start = F.timestamp_seconds(epoch_sec - (epoch_sec % bar_seconds))
    ticks = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(price_col).alias("price"),
        bar_start.alias("bar_start"),
        F.lead(ts_col).over(w).alias("next_ts"),
    )
    bar_end = F.col("bar_start") + F.expr(f"INTERVAL {bar_seconds} SECONDS")
    held_us = (
        F.unix_micros(F.least(F.coalesce(F.col("next_ts"), bar_end), bar_end))
        - F.unix_micros(F.col(ts_col))
    )
    # a tick whose successor precedes it only via tie gets weight 0;
    # negatives are impossible (lead is ordered) but clamp anyway
    held_us = F.greatest(held_us, F.lit(0))
    weighted = ticks.select(
        key_col,
        "bar_start",
        "price",
        held_us.alias("w_us"),
        (F.col("price") * held_us / 1_000_000.0).alias("pw_sec"),
    )
    agg = weighted.groupBy(key_col, "bar_start").agg(
        F.sum("w_us").alias("w_us"),
        F.sum("pw_sec").alias("pw_sec"),
        F.avg("price").alias("avg_price"),
    )
    # Σw_us is an INTEGER sum — exact and order-independent in both
    # engines, so the ratio divides the exact weight; only Σpw needs
    # the rounded-sum discipline. (Rounding the weight too distorted
    # small bars: error ≈ price·5e-5/w_sec, ~1% for a 100 ms bar.)
    # Residual twap distortion is bounded by 5e-5/w_sec from the pw
    # rounding alone. A zero-weight bar (all ticks at the bar's final
    # µs) has no time-weighting information — fall back to the plain
    # tick average so twap stays inside the bar's price range.
    rpw = _r4(F.col("pw_sec"))
    w_sec = F.col("w_us") / 1_000_000.0
    return agg.select(
        key_col,
        "bar_start",
        _r4(w_sec).alias("held_sec"),
        _r4(
            F.when(F.col("w_us") > 0, rpw / w_sec).otherwise(F.col("avg_price"))
        ).alias("twap"),
    )


def twap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly TWAP over the events fixture (market ≙ user_id,
    price ≙ value)."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
    )
    return twap(ev).withColumnRenamed("bar_start", "hour_start")


TWAP_HOURLY_SQL = """
WITH ticks AS (
  SELECT user_id AS market,
         ts,
         event_id,
         value AS price,
         make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS hour_start,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
  FROM events
),
weighted AS (
  SELECT market,
         hour_start,
         price,
         greatest(
           epoch_us(least(coalesce(next_ts, hour_start + INTERVAL 1 HOUR),
                          hour_start + INTERVAL 1 HOUR)) - epoch_us(ts),
           0) AS w_us,
         price * greatest(
           epoch_us(least(coalesce(next_ts, hour_start + INTERVAL 1 HOUR),
                          hour_start + INTERVAL 1 HOUR)) - epoch_us(ts),
           0) / 1000000.0 AS pw_sec
  FROM ticks
),
agg AS (
  SELECT market, hour_start, sum(w_us) AS w_us, sum(pw_sec) AS pw_sec,
         avg(price) AS avg_price
  FROM weighted GROUP BY market, hour_start
)
SELECT market,
       hour_start,
       round(w_us / 1000000.0 + 1e-9, 4) AS held_sec,
       round(CASE WHEN w_us > 0
                  THEN round(pw_sec + 1e-9, 4) / (w_us / 1000000.0)
                  ELSE avg_price END + 1e-9, 4) AS twap
FROM agg
"""


def resample_locf(
    df: DataFrame,
    bucket_seconds: int = 900,
    ts_col: str = "ts",
    key_col: str = "market",
    price_col: str = "price",
    persist_buckets: bool = True,
) -> DataFrame:
    """Regular-grid resample per key with LOCF gap-fill.

    Every key gets a dense bucket grid spanning its own [first, last]
    tick; buckets with no ticks inherit the previous bucket's avg
    price and are flagged ``is_gap=1``. The grid is built
    executor-side (``sequence``+``explode`` from a 2-column bounds
    row per key) — |keys|×|buckets| rows, which at 100 TB of ticks is
    still orders of magnitude smaller than the input; nothing touches
    the driver. LOCF is ``last(value, ignorenulls)`` over the
    preceding frame — one partition-parallel pass, the same idiom the
    as-of join uses (temporal.py:27).
    """
    epoch_sec = (F.unix_micros(F.col(ts_col)) / 1_000_000).cast("long")
    ticks = df.select(
        F.col(key_col),
        F.col(price_col).alias("price"),
        F.timestamp_seconds(epoch_sec - (epoch_sec % bucket_seconds)).alias(
            "bucket"
        ),
    )
    # persist the bucket-level aggregate (round 13, guide §5): it is
    # consumed TWICE — the grid bounds aggregate and the grid⋈obs join
    # — and without the persist each consumer re-ran the full tick
    # scan + partial aggregation (the two subtrees differ past the agg,
    # so ReuseExchange cannot dedup them). The relation is |keys ×
    # buckets| rows, orders of magnitude under the tick count. The
    # join side broadcasts and the LOCF window reuses the grid's
    # key partitioning, both as before.
    # Round 14: VOLUME-GATED (the hampel #19 discipline) — at fixture
    # scale the two scans previously ran stage-parallel on idle cores,
    # so the persist's materialization barrier LOST ~0.7 s at sf0.1
    # (VERDICT r13 #3 regression, re-measured this round); past the
    # gate the scan is the corpus and halving it is the win.
    per_bucket = ticks.groupBy(key_col, "bucket").agg(
        _r4(F.avg("price")).alias("price_obs")
    )
    if persist_buckets:
        from cdc_realtime_pipeline_spark.session import tracked_persist

        per_bucket = tracked_persist(per_bucket)
    grid = (
        per_bucket.groupBy(key_col)
        .agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
        .select(
            key_col,
            F.explode(
                F.sequence("lo", "hi", F.expr(f"INTERVAL {bucket_seconds} SECONDS"))
            ).alias("bucket"),
        )
    )
    joined = grid.join(per_bucket, [key_col, "bucket"], "left")
    locf = Window.partitionBy(key_col).orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        key_col,
        "bucket",
        F.last("price_obs", ignorenulls=True).over(locf).alias("price"),
        F.col("price_obs").isNull().cast("int").alias("is_gap"),
    )


def gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute LOCF resample over the events fixture (market ≙
    user_id, price ≙ value).

    The twice-consumed bucket aggregate is persisted only past a
    volume gate (``SPARK_GRAFT_LOCF_PERSIST_ROWS``, default 1M rows,
    parquet-footer count — the hampel #19 discipline): below it the
    two scans run stage-parallel on idle cores and the persist's
    barrier costs more than the rescan (measured +0.7 s at sf0.1,
    VERDICT r13 #3); above it the duplicate corpus scan is the cost
    that matters and the persist halves it."""
    persist_rows = int(
        os.environ.get("SPARK_GRAFT_LOCF_PERSIST_ROWS", str(1_000_000))
    )
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
    )
    return resample_locf(
        ev, persist_buckets=_parquet_rows(sf_dir, "events") >= persist_rows
    )


GAP_FILL_LOCF_SQL = """
WITH b AS (
  SELECT user_id AS market,
         make_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT) * 1000000) AS bucket,
         round(avg(value) + 1e-9, 4) AS price_obs
  FROM events
  GROUP BY 1, 2
),
grid AS (
  SELECT market,
         unnest(generate_series(min(bucket), max(bucket), INTERVAL 15 MINUTE)) AS bucket
  FROM b GROUP BY market
)
SELECT g.market,
       g.bucket,
       last_value(b.price_obs IGNORE NULLS)
         OVER (PARTITION BY g.market ORDER BY g.bucket) AS price,
       CASE WHEN b.price_obs IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g LEFT JOIN b ON g.market = b.market AND g.bucket = b.bucket
"""


_BAND_N = 20  # rolling window length (ticks)
_BAND_K = 2.0  # σ multiplier


def rolling_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-style rolling bands: per market, mean ± 2σ over the
    preceding 20 ticks; emit only band-breakout ticks.

    The bounded ``ROWS BETWEEN 19 PRECEDING AND CURRENT ROW`` frame is
    the one window-frame class the conformance sweeps didn't cover
    (cumulative = unbounded-preceding, rank = no frame). One shuffle
    on (market); the frame is O(N) state per partition stream, never
    materialized. Warm-up ticks (fewer than 20 in frame) are excluded
    — σ needs a full window to mean anything. Both engines evaluate
    the identical ordered frame, so stddev_samp diverges only in
    ulp-order float noise, absorbed by the shared rounding discipline.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "ts",
        "event_id",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
    )
    w = (
        Window.partitionBy("market")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_BAND_N - 1), 0)
    )
    banded = ev.select(
        "market",
        "ts",
        "event_id",
        "price",
        F.count("*").over(w).alias("n_in_frame"),
        F.avg("price").over(w).alias("mid"),
        F.stddev_samp("price").over(w).alias("sd"),
    ).filter(F.col("n_in_frame") == _BAND_N)
    # breakout decided on ROUNDED operands (c78b6cb discipline): the
    # two engines' frame stddevs agree only to ulp order, so an
    # unrounded `price > mid + 2sd` could flip for a tick sitting on
    # the band itself
    upper = _r4(F.col("mid") + _BAND_K * F.col("sd"))
    lower = _r4(F.col("mid") - _BAND_K * F.col("sd"))
    price_r = _r4(F.col("price"))
    return (
        banded.filter((price_r > upper) | (price_r < lower))
        .select(
            "market",
            "event_id",
            _r4(F.col("price")).alias("price"),
            _r4(F.col("mid")).alias("mid"),
            _r4(F.col("sd")).alias("sd"),
            F.when(price_r > upper, F.lit("UP"))
            .otherwise(F.lit("DOWN"))
            .alias("breakout"),
        )
    )


ROLLING_PRICE_BANDS_SQL = f"""
WITH framed AS (
  SELECT user_id AS market,
         event_id,
         value AS price,
         count(*) OVER w AS n_in_frame,
         avg(value) OVER w AS mid,
         stddev_samp(value) OVER w AS sd
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_BAND_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT market,
       event_id,
       round(price + 1e-9, 4) AS price,
       round(mid + 1e-9, 4) AS mid,
       round(sd + 1e-9, 4) AS sd,
       CASE WHEN round(price + 1e-9, 4) > round(mid + {_BAND_K} * sd + 1e-9, 4)
            THEN 'UP' ELSE 'DOWN' END AS breakout
FROM framed
WHERE n_in_frame = {_BAND_N}
  AND (round(price + 1e-9, 4) > round(mid + {_BAND_K} * sd + 1e-9, 4)
       OR round(price + 1e-9, 4) < round(mid - {_BAND_K} * sd + 1e-9, 4))
"""


_TRAIL_US = 10 * 60 * 1_000_000  # 10-minute trailing range frame


def trailing_10min_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 10-minute value sum per market — the RANGE
    (value-bounded) window-frame class, complementing the bounded-ROWS
    frame (`rolling_price_bands`), cumulative (unbounded) and rank
    (no-frame) classes already gated.

    The frame is defined over integer µs, so membership is exact on
    both engines even with timestamp ties (a RANGE frame admits *all*
    peers at the boundary value — the semantics ROWS can't express).
    One shuffle on (market); sliding-frame sums are O(1) per row in
    both engines' window implementations.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("market"),
        "event_id",
        F.col("value"),
        F.unix_micros("ts").alias("us"),
    )
    w = (
        Window.partitionBy("market")
        .orderBy("us")
        .rangeBetween(-_TRAIL_US, 0)
    )
    return ev.select(
        "market",
        "event_id",
        _r4(F.sum("value").over(w)).alias("trailing_value"),
        F.count("*").over(w).alias("trailing_n"),
    )


TRAILING_10MIN_VALUE_SQL = f"""
SELECT user_id AS market,
       event_id,
       round(sum(value) OVER w + 1e-9, 4) AS trailing_value,
       count(*) OVER w AS trailing_n
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
"""


def hourly_median_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group percentiles: median and IQR of price per
    (market, hour) — the sort-based exact-percentile class next to the
    global exact (`value_quantiles`) and sketch
    (`value_quantiles_approx`) rows.

    ``percentile(col, p)`` is Spark's exact continuous-interpolation
    aggregate (sorted rank p·(n−1), linear interpolation — the same
    definition as the oracle's ``quantile_cont``). Exact percentiles
    buffer each group's values — right for bounded groups like
    market-hours (≤ a few thousand ticks); for unbounded groups the
    sketch row is the scale path. One shuffle on (market, hour).
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
        F.timestamp_seconds(
            (F.unix_micros(F.col("ts")) / 1_000_000).cast("long")
            - ((F.unix_micros(F.col("ts")) / 1_000_000).cast("long") % 3600)
        ).alias("hour_start"),
    )
    return ev.groupBy("market", "hour_start").agg(
        F.count("*").alias("n_ticks"),
        _r4(F.expr("percentile(price, 0.5)")).alias("median_price"),
        _r4(
            F.expr("percentile(price, 0.75) - percentile(price, 0.25)")
        ).alias("iqr"),
    )


HOURLY_MEDIAN_IQR_SQL = """
SELECT user_id AS market,
       make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS hour_start,
       count(*) AS n_ticks,
       round(quantile_cont(value, 0.5) + 1e-9, 4) AS median_price,
       round(quantile_cont(value, 0.75) - quantile_cont(value, 0.25) + 1e-9, 4) AS iqr
FROM events
GROUP BY 1, 2
"""


_PATTERN_L = 16  # query-pattern / window length (series points)
_PATTERN_TOPK = 10


def _ramp_pattern() -> list[float]:
    """Z-normalized rising-ramp query pattern, generated once in Python
    so Spark literals and oracle-SQL literals are the same floats
    (repr round-trips exactly on both engines)."""
    L = _PATTERN_L
    mean = (L - 1) / 2.0
    var = sum((i - mean) ** 2 for i in range(L)) / L
    sd = var**0.5
    return [(i - mean) / sd for i in range(L)]


def timeseries_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series pattern similarity search — find the top-K windows
    of the minute-resampled value series most correlated with a
    broadcast query shape (a z-normalized rising ramp): the
    subsequence-matching primitive behind distributed trajectory /
    streaming-similarity systems (e.g. "Time Series Similarity Search
    for Streaming Data in Distributed Systems", EDBT 2019 — PAPERS.md).

    Pearson correlation against a zero-mean unit-σ pattern p reduces
    to ``dot(x, p) / (L·σ_x)``: three sequential folds per window
    (Σx, Σx², dot(x,p)) in the repo's established fold-order-identical
    idiom (= DuckDB ``list_dot_product``), so scores agree bit-for-bit
    cross-engine before the shared round+nudge. Windows are L
    consecutive points of the per-minute mean series (missing minutes
    compress out — subsequence semantics over the observed series,
    identical on both engines); ties broken on start minute after
    rounding.

    Scale: the series is a (minute) aggregate of the fact table —
    bounded rows thereafter; windowing is one ordered pass
    (`collect_list` over a 16-row frame on an already-small relation);
    per-key variants shard by series key. The pattern is a literal —
    nothing broadcast-joins the fact table.
    """
    L, p = _PATTERN_L, _ramp_pattern()
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(
            F.floor(F.col("ts").cast("long") / 60).cast("long").alias("minute")
        )
        .agg((F.sum("value") / F.count("*")).alias("x"))
    )
    w = Window.orderBy("minute").rowsBetween(0, L - 1)
    windows = series.select(
        "minute",
        F.collect_list("x").over(w).alias("xs"),
    ).filter(F.size("xs") == L)
    pat = F.array(*[F.lit(float(v)) for v in p])
    fold = lambda arr: F.aggregate(arr, F.lit(0.0), lambda a, b: a + b)
    s1 = fold(F.col("xs"))
    s2 = fold(F.zip_with(F.col("xs"), F.col("xs"), lambda a, b: a * b))
    dp = fold(F.zip_with(F.col("xs"), pat, lambda a, b: a * b))
    sd = F.sqrt(s2 / L - (s1 / L) * (s1 / L))
    scored = windows.select(
        F.col("minute").alias("start_minute"),
        F.round(
            F.when(sd > 0, dp / (F.lit(float(L)) * sd)).otherwise(0.0) + 1e-9, 6
        ).alias("corr"),
    )
    rk = Window.orderBy(F.desc("corr"), F.asc("start_minute"))
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= _PATTERN_TOPK)
        .select("rk", "start_minute", "corr")
    )


def _pattern_topk_sql() -> str:
    p = _ramp_pattern()
    lit = "[" + ", ".join(repr(v) for v in p) + "]"
    L, K = _PATTERN_L, _PATTERN_TOPK
    return f"""
WITH series AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute,
         sum(value) / count(*) AS x
  FROM events GROUP BY 1
),
win AS (
  SELECT minute,
         list(x) OVER (ORDER BY minute
                       ROWS BETWEEN CURRENT ROW AND {L - 1} FOLLOWING) AS xs
  FROM series
),
full_win AS (SELECT * FROM win WHERE len(xs) = {L}),
scored AS (
  SELECT minute AS start_minute,
         list_dot_product(xs, xs) AS s2,
         list_dot_product(xs, [{", ".join(["1.0"] * L)}]::DOUBLE[]) AS s1,
         list_dot_product(xs, {lit}::DOUBLE[]) AS dp
  FROM full_win
),
corr AS (
  SELECT start_minute,
         round(CASE WHEN sqrt(s2 / {L} - (s1 / {L}) * (s1 / {L})) > 0
                    THEN dp / ({float(L)!r} * sqrt(s2 / {L} - (s1 / {L}) * (s1 / {L})))
                    ELSE 0.0 END + 1e-9, 6) AS corr
  FROM scored
)
SELECT row_number() OVER (ORDER BY corr DESC, start_minute ASC) AS rk,
       start_minute, corr
FROM corr
ORDER BY corr DESC, start_minute ASC
LIMIT {K}
"""


def value_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint screen per event type (Brown's
    cumulative-sum-of-deviations chart): over the 5-minute mean-value
    series, C_t = Σ_{i≤t}(x_i − x̄); the peak |C_t| locates the most
    likely level-shift point and its bridge-normalized height
    |C|max/(s·√n) is the drift severity a monitoring gate thresholds
    (the offline counterpart to the streaming PSI gate
    stream_value_drift_gate — PSI says "distributions differ", CUSUM
    says WHEN the level moved).

    The classic one-sided Page CUSUM is a reset recursion (sequential
    by nature); the offline chart form is deliberately chosen because
    it is pure prefix-sums — fully window-expressible, no recursion.
    Two bounded stages: the bucket aggregate (series length tracks
    the time span, not the row count), then per-type windows over the
    bucket series. Peak selection is deterministic: |C| rounded to
    6dp, ties → earliest bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    ).agg(F.avg("value").alias("x"))
    stats = buckets.groupBy("event_type").agg(
        F.avg("x").alias("mu"),
        F.stddev_samp("x").alias("sd"),
        F.count("*").cast("long").alias("n_buckets"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = (
        buckets.join(stats, "event_type")
        .withColumn("c", F.sum(F.col("x") - F.col("mu")).over(w))
        .withColumn("absc", F.round(F.abs("c") + 1e-9, 6))
    )
    pk = Window.partitionBy("event_type").orderBy(F.desc("absc"), F.asc("bucket"))
    return (
        walked.withColumn("rk", F.row_number().over(pk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            "n_buckets",
            F.col("bucket").alias("peak_bucket"),
            F.col("absc").alias("cusum_peak"),
            F.expr(
                "round(absc / (sd * sqrt(n_buckets)) + 1e-9, 6) + 0.0"
            ).alias("bridge_stat"),
        )
        .orderBy("event_type")
    )


VALUE_CUSUM_DRIFT_SQL = """
WITH buckets AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         avg(value) AS x
  FROM events GROUP BY event_type, bucket
),
stats AS (
  SELECT event_type, avg(x) AS mu, stddev_samp(x) AS sd,
         count(*) AS n_buckets
  FROM buckets GROUP BY event_type
),
walked AS (
  SELECT b.event_type, b.bucket, s.sd, s.n_buckets,
         round(abs(sum(b.x - s.mu) OVER (PARTITION BY b.event_type
               ORDER BY b.bucket ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)) + 1e-9, 6) AS absc
  FROM buckets b JOIN stats s ON b.event_type = s.event_type
)
SELECT event_type,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       bucket AS peak_bucket,
       absc AS cusum_peak,
       round(absc / (sd * sqrt(n_buckets)) + 1e-9, 6) + 0.0 AS bridge_stat
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY absc DESC, bucket ASC) AS rk
      FROM walked)
WHERE rk = 1 ORDER BY event_type
"""


def events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (ŷ_t = y_{t−1day}, per type per 5-min slot) — the baseline every
    forecasting deployment must beat, and the cheapest way to measure
    how seasonal a metric actually is (sMAPE near 0 → strongly daily-
    periodic; near 2 → the naive carries no signal). Emits per type:
    evaluated points, MAE, sMAPE, and mean bias.

    Shape: ONE bucket aggregate, then a key-shifted self-equi-join
    (bucket = bucket − 86400/300) on the bucket relation — no window,
    no sort; both sides are series-sized (time-span-bound). Sparse
    slots simply find no partner and drop — the honest backtest
    convention (no imputation inside the metric).
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    ).agg(F.sum("value").alias("y"))
    actual = buckets.select("event_type", "bucket", F.col("y").alias("a"))
    pred = buckets.select(
        "event_type",
        (F.col("bucket") + F.lit(288).cast("long")).alias("bucket"),
        F.col("y").alias("p"),
    )
    j = actual.join(pred, ["event_type", "bucket"])
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.expr("round(avg(abs(a - p)) + 1e-9, 4)").alias("mae"),
            F.expr(
                "round(avg(2.0 * abs(a - p) / (abs(a) + abs(p))) + 1e-9, 6)"
            ).alias("smape"),
            F.expr("round(avg(a - p) + 1e-9, 4) + 0.0").alias("bias"),
        )
        .orderBy("event_type")
    )


EVENTS_SEASONAL_BACKTEST_SQL = """
WITH buckets AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         sum(value) AS y
  FROM events GROUP BY event_type, bucket
)
SELECT a.event_type,
       count(*) AS n_eval,
       round(avg(abs(a.y - p.y)) + 1e-9, 4) AS mae,
       round(avg(2.0 * abs(a.y - p.y) / (abs(a.y) + abs(p.y))) + 1e-9, 6)
         AS smape,
       round(avg(a.y - p.y) + 1e-9, 4) + 0.0 AS bias
FROM buckets a
JOIN buckets p ON a.event_type = p.event_type AND a.bucket = p.bucket + 288
GROUP BY a.event_type ORDER BY a.event_type
"""


# --------------------------------------------------------------------------
# Fixed-frequency periodogram (DFT power at candidate seasonal periods)
# --------------------------------------------------------------------------

# candidate periods in 5-min buckets: 1h, 3h, 6h, 12h, 24h, 1 week
_PERIODOGRAM_P = [12, 36, 72, 144, 288, 2016]


def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT power of each event type's 5-minute volume series at six
    candidate seasonal periods (1 h … 1 week) — the spectral screen
    that picks WHICH period events_seasonal_backtest should difference
    on (the backtest assumes daily; a dominant 12 h or weekly line
    here says otherwise) and quantifies how much of the variance the
    cycle carries.

    Numerics for cross-engine exactness: the phase is 2π·(bucket mod
    p)/p over the INTEGER bucket index, so the trig argument stays in
    [0, 2π) — both engines evaluate cos/sin of bit-identical small
    doubles instead of reducing a ~1e9-second epoch (where libm
    argument-reduction differences would surface). Volumes are
    mean-centered per type (otherwise the DC component leaks into
    every line).

    Scale: series length = time-span/5 min — bounded by calendar, not
    corpus; the period grid is a 6-row broadcast; the DFT itself is
    one map-side-combinable aggregate per (type, period) carrying two
    doubles. A full FFT is pointless here — at any scale you probe
    the handful of physically plausible periods, not N/2 frequencies.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = (
        ev.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
        )
        .agg(F.sum("value").alias("vol"))
    )
    means = buckets.groupBy("event_type").agg(
        F.avg("vol").alias("mu"), F.count("*").cast("double").alias("nb")
    )
    periods = spark.createDataFrame(
        [(p,) for p in _PERIODOGRAM_P], "p long"
    )
    centered = buckets.join(F.broadcast(means), "event_type").crossJoin(
        F.broadcast(periods)
    )
    spec = (
        centered.select(
            "event_type",
            "p",
            "nb",
            (F.col("vol") - F.col("mu")).alias("vc"),
            (
                F.lit(2.0)
                * F.expr("pi()")
                * (F.col("bucket") % F.col("p")).cast("double")
                / F.col("p").cast("double")
            ).alias("phase"),
        )
        .groupBy("event_type", "p")
        .agg(
            F.sum(F.col("vc") * F.cos("phase")).alias("sc"),
            F.sum(F.col("vc") * F.sin("phase")).alias("ss"),
            F.max("nb").alias("nb"),
        )
    )
    return spec.select(
        "event_type",
        F.expr("round(p * 300.0 / 3600.0 + 1e-9, 2) + 0.0").alias(
            "period_hours"
        ),
        F.col("nb").cast("long").alias("n_buckets"),
        F.expr("round((sc * sc + ss * ss) / nb + 1e-9, 4) + 0.0").alias(
            "spec_power"
        ),
    ).orderBy("event_type", "period_hours")


EVENTS_PERIODOGRAM_SQL = f"""
WITH buckets AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         sum(value) AS vol
  FROM events GROUP BY event_type, bucket
),
means AS (
  SELECT event_type, avg(vol) AS mu, CAST(count(*) AS DOUBLE) AS nb
  FROM buckets GROUP BY event_type
),
periods AS (SELECT unnest([{", ".join(str(p) for p in _PERIODOGRAM_P)}]) AS p),
centered AS (
  SELECT b.event_type, p.p, m.nb,
         b.vol - m.mu AS vc,
         2.0 * pi() * CAST(b.bucket % p.p AS DOUBLE) / CAST(p.p AS DOUBLE)
           AS phase
  FROM buckets b
  JOIN means m ON b.event_type = m.event_type
  CROSS JOIN periods p
),
spec AS (
  SELECT event_type, p,
         sum(vc * cos(phase)) AS sc,
         sum(vc * sin(phase)) AS ss,
         max(nb) AS nb
  FROM centered GROUP BY event_type, p
)
SELECT event_type,
       round(p * 300.0 / 3600.0 + 1e-9, 2) + 0.0 AS period_hours,
       CAST(nb AS BIGINT) AS n_buckets,
       round((sc * sc + ss * ss) / nb + 1e-9, 4) + 0.0 AS spec_power
FROM spec ORDER BY event_type, period_hours
"""


# --------------------------------------------------------------------------
# Hampel filter: rolling-median / rolling-MAD outlier screen
# --------------------------------------------------------------------------

_HAMPEL_HALF = 10  # window = 2·half + 1 ticks
_HAMPEL_K = 3.0  # flag threshold in scaled-MAD units
_HAMPEL_C = 1.4826  # MAD → sigma consistency constant


def _median_expr(arr: str, elem: str, size_fn: str) -> str:
    """Exact median of a SORTED array column — shared formula, engine
    difference confined to the accessor names (element_at/size vs
    list_extract/len), both 1-based."""
    n = f"{size_fn}({arr})"
    i1 = f"CAST(floor(({n} + 1) / 2.0) AS INT)"
    i2 = f"CAST(floor(({n} + 2) / 2.0) AS INT)"
    return f"(({elem}({arr}, {i1}) + {elem}({arr}, {i2})) / 2.0)"


def value_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over each event type's value series: a tick is an
    outlier when it sits more than {K}·(1.4826·MAD) from the rolling
    MEDIAN of its ±{H}-tick neighborhood — the robust alternative to
    rolling_price_bands' mean/stddev bands (one genuine spike inflates
    a rolling stddev and masks its neighbors; the median/MAD pair is
    immune to up to half the window being corrupt).

    There is no two-level "median of deviations from a per-row
    median" in windowed SQL directly, so the window materializes its
    frame: sort_array(collect_list(value) OVER ±{H} rows) gives each
    tick its 21-value neighborhood as an array, and both medians are
    exact closed forms over the sorted array (higher-order transform
    for the deviations). Arrays are frame-sized (constant, 21), never
    row-count-sized. Zero-MAD windows (≥ half the frame identical)
    cannot flag and are reported separately, not silently dropped.

    Scale: the frame is LOCAL (±{H} ROWS), so past a per-key volume
    threshold the per-key stream is sliced into dense-sequence chunks
    with a ±{H}-row overlap and the window runs per (key, chunk) —
    round 13: with 5 event types the unsliced window runs the corpus
    sort and the per-tick array math on 5 cores, which cannot survive
    100 TB. Slicing keys a two-phase dense sequence (bucket counts →
    offsets → within-bucket row_number), overlap rows feed neighbor
    frames but never score, and chunk size derives from the key's tick
    count and the session parallelism — the same answer at any scale,
    pinned by the forced-slice differential pytest. Below the
    threshold (``SPARK_GRAFT_HAMPEL_SLICE_ROWS``, default 1M rows —
    fixture volumes, where the two extra sequence-assembly passes cost
    more than 5-way parallelism loses; measured +0.5 s at sf0.1) the
    direct per-key window runs instead.
    """
    ev = load_table(spark, sf_dir, "events")
    H = _HAMPEL_HALF
    slice_rows = int(
        os.environ.get("SPARK_GRAFT_HAMPEL_SLICE_ROWS", str(1_000_000))
    )
    if _parquet_rows(sf_dir, "events") < slice_rows:
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(-H, H)
        )
        framed = ev.select(
            "event_type",
            "value",
            F.sort_array(F.collect_list("value").over(w)).alias("arr"),
        )
        return _hampel_score(framed)
    # --- sliced frame assembly (round 13, guide §2.5): the natural
    # window partitions by event_type — 5 keys, so the corpus-sized
    # sort AND the per-row frame math (two 21-element array sorts per
    # tick) ran on 5 of 32 cores. This is the docstring's own at-scale
    # posture, implemented: ticks get a dense per-type sequence in two
    # phases (per-(type, hour) counts → cumulative offsets over the
    # BUCKET-sized relation → within-bucket row_number + offset), are
    # chunked by `seq DIV csz`, and rows within ±H of a chunk boundary
    # are copied to the neighbor chunk — seq is dense, so every owned
    # row sees exactly its global ±H ROWS frame inside its own chunk.
    # Copies feed frames but are dropped before scoring. Chunk size is
    # derived per type from the type's tick count and the session
    # parallelism (scale-adaptive; floor 2H+1 keeps overlap disjoint).
    epoch = (F.unix_micros("ts") / 1_000_000).cast("long")
    tb = ev.select(
        "event_type",
        "value",
        "ts",
        "event_id",
        (epoch - epoch % 3600).alias("tsb"),
    )
    cnt = tb.groupBy("event_type", "tsb").agg(F.count("*").alias("n_b"))
    wb = (
        Window.partitionBy("event_type")
        .orderBy("tsb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cnt.select(
        "event_type",
        "tsb",
        F.coalesce(F.sum("n_b").over(wb), F.lit(0)).alias("base"),
    )
    k_chunks = max(1, spark.sparkContext.defaultParallelism)
    csize = (
        cnt.groupBy("event_type")
        .agg(F.sum("n_b").alias("n_t"))
        .select(
            "event_type",
            F.greatest(
                F.lit(2 * H + 1),
                F.ceil(F.col("n_t") / k_chunks).cast("long"),
            ).alias("csz"),
        )
    )
    wrn = Window.partitionBy("event_type", "tsb").orderBy("ts", "event_id")
    seqd = (
        tb.join(F.broadcast(offs), ["event_type", "tsb"])
        .join(F.broadcast(csize), "event_type")
        .select(
            "event_type",
            "value",
            "csz",
            (F.col("base") + F.row_number().over(wrn) - 1).alias("seq"),
        )
    )
    assign = F.expr(
        f"""filter(array(
          struct(seq DIV csz AS chunk, 1 AS own),
          CASE WHEN seq % csz < {H} AND seq DIV csz > 0
               THEN struct(seq DIV csz - 1 AS chunk, 0 AS own) END,
          CASE WHEN seq % csz >= csz - {H}
               THEN struct(seq DIV csz + 1 AS chunk, 0 AS own) END
        ), x -> x IS NOT NULL)"""
    )
    sliced = seqd.select(
        "event_type", "value", "seq", F.explode(assign).alias("a")
    ).select("event_type", "value", "seq", "a.chunk", "a.own")
    w = (
        Window.partitionBy("event_type", "chunk")
        .orderBy("seq")
        .rowsBetween(-H, H)
    )
    framed = sliced.select(
        "event_type",
        "value",
        F.sort_array(F.collect_list("value").over(w)).alias("arr"),
        "own",
    ).filter(F.col("own") == 1)
    return _hampel_score(framed)


def _hampel_score(framed: DataFrame) -> DataFrame:
    """Median/MAD scoring + per-type rollup over a (event_type, value,
    arr) frame relation — shared by the direct and the sliced frame
    assemblies (both produce identical frames; round 13)."""
    scored = (
        framed.withColumn(
            "med", F.expr(_median_expr("arr", "element_at", "size"))
        )
        .withColumn(
            "mad",
            F.expr(
                _median_expr(
                    "array_sort(transform(arr, x -> abs(x - med)))",
                    "element_at",
                    "size",
                )
            ),
        )
        .withColumn(
            "score",
            F.expr(
                f"CASE WHEN mad > 0 THEN abs(value - med) / ({_HAMPEL_C} * mad) END"
            ),
        )
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count_if(F.col("score") > _HAMPEL_K).cast("long").alias(
                "n_outliers"
            ),
            F.count_if(F.col("mad") <= 0).cast("long").alias("n_zero_mad"),
            F.expr("round(max(score) + 1e-9, 4) + 0.0").alias("max_score"),
        )
        .orderBy("event_type")
    )


def _parquet_rows(sf_dir: str, table: str) -> int:
    """Row count from parquet footer metadata — a driver-side file
    read, no Spark job (feeds the hampel slice-threshold gate)."""
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        return sum(
            pq.read_metadata(os.path.join(p, f)).num_rows
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    return pq.read_metadata(p).num_rows


value_hampel_filter.__doc__ = value_hampel_filter.__doc__.format(
    K=_HAMPEL_K, H=_HAMPEL_HALF
)

VALUE_HAMPEL_FILTER_SQL = f"""
WITH framed AS (
  SELECT event_type, value,
         list_sort(list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {_HAMPEL_HALF} PRECEDING AND {_HAMPEL_HALF} FOLLOWING
         )) AS arr
  FROM events
),
med AS (
  SELECT event_type, value, arr,
         {_median_expr("arr", "list_extract", "len")} AS med
  FROM framed
),
scored AS (
  SELECT event_type, value, med,
         {_median_expr("list_sort(list_transform(arr, x -> abs(x - med)))", "list_extract", "len")}
           AS mad
  FROM med
),
final AS (
  SELECT event_type,
         CASE WHEN mad > 0
              THEN abs(value - med) / ({_HAMPEL_C} * mad) END AS score,
         mad
  FROM scored
)
SELECT event_type,
       count(*) AS n_rows,
       CAST(count(CASE WHEN score > {_HAMPEL_K} THEN 1 END) AS BIGINT)
         AS n_outliers,
       CAST(count(CASE WHEN mad <= 0 THEN 1 END) AS BIGINT) AS n_zero_mad,
       round(max(score) + 1e-9, 4) + 0.0 AS max_score
FROM final GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Holt linear-trend smoothing (double exponential smoothing)
# --------------------------------------------------------------------------

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3


def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing per event type over the
    5-minute mean-value series: level/trend recursion l_t = α·x_t +
    (1−α)(l+b), b_t = β(l_t−l) + (1−β)b — the step past ema_per_key
    (level only) that tracks a drifting mean WITH its slope, and the
    model whose one-step errors events_seasonal_backtest's naive
    forecaster is benchmarked against. Emits the final state, the
    next-bucket forecast and the in-sample one-step MAE.

    The recursion is inherently sequential, but the SERIES is
    calendar-bounded (5-min buckets of a 30-day span ≈ 8.6 k points —
    independent of corpus size), so the scalable shape is: corpus-size
    aggregate to buckets, collect each key's series into ONE array,
    fold it with a higher-order ``aggregate`` — per-key state never
    leaves the executor, and the driver never loops. Init is the
    first element itself (l=x₁, b=0) — expressed on BOTH engines by
    seeding the fold with element 1 lifted into accumulator shape
    (which is exactly DuckDB ``list_reduce``'s seeding rule, mirrored
    in Spark by aggregate(slice(arr, 2, …), lift(arr[1]))). Level and
    trend are rounded 6dp EACH STEP on both engines (the pagerank
    discipline) so float drift cannot compound across 8.6 k steps.
    """
    ev = load_table(spark, sf_dir, "events")
    buckets = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 300).cast("long").alias("bucket"),
    ).agg(F.avg("value").alias("x"))
    series = buckets.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(bucket, x))), s -> s.x)"
        ).alias("xs")
    )
    a, b = _HOLT_ALPHA, _HOLT_BETA
    fold = f"""
aggregate(
  slice(xs, 2, size(xs) - 1),
  named_struct('l', xs[0], 'b', CAST(0.0 AS DOUBLE),
               'sae', CAST(0.0 AS DOUBLE), 'n', 1),
  (acc, x) -> named_struct(
    'l', round({a} * x + {1.0 - a} * (acc.l + acc.b) + 1e-9, 6),
    'b', round({b} * (round({a} * x + {1.0 - a} * (acc.l + acc.b) + 1e-9, 6) - acc.l)
               + {1.0 - b} * acc.b + 1e-9, 6),
    'sae', acc.sae + abs(x - (acc.l + acc.b)),
    'n', acc.n + 1)
)"""
    return (
        series.withColumn("st", F.expr(fold))
        .select(
            "event_type",
            F.col("st.n").cast("long").alias("n_buckets"),
            F.expr("round(st.l + 1e-9, 4) + 0.0").alias("level"),
            F.expr("round(st.b + 1e-9, 4) + 0.0").alias("trend"),
            F.expr("round(st.l + st.b + 1e-9, 4) + 0.0").alias("forecast_next"),
            F.expr("round(st.sae / (st.n - 1) + 1e-9, 4) + 0.0").alias(
                "one_step_mae"
            ),
        )
        .orderBy("event_type")
    )


# NOTE: the accumulator is a DOUBLE LIST [l, trend, sae, n], not a
# struct — DuckDB 1.0's list_reduce evaluates struct_pack fields
# sequentially against a MUTATING accumulator (field 2's acc.l is
# already field 1's new value; probed in test_holt_duckdb_semantics),
# while list construction sees one consistent acc. Spark's aggregate
# has sound struct semantics and keeps the named form.
EVENTS_HOLT_LINEAR_SQL = f"""
WITH buckets AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 300) AS BIGINT) AS bucket,
         avg(value) AS x
  FROM events GROUP BY event_type, bucket
),
series AS (
  SELECT event_type,
         list([x, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(1.0 AS DOUBLE)]
              ORDER BY bucket) AS elems
  FROM buckets GROUP BY event_type
),
folded AS (
  SELECT event_type,
         list_reduce(elems, (acc, e) -> [
           round({_HOLT_ALPHA} * e[1]
                 + {1.0 - _HOLT_ALPHA} * (acc[1] + acc[2]) + 1e-9, 6),
           round({_HOLT_BETA} * (round({_HOLT_ALPHA} * e[1]
                 + {1.0 - _HOLT_ALPHA} * (acc[1] + acc[2]) + 1e-9, 6) - acc[1])
                 + {1.0 - _HOLT_BETA} * acc[2] + 1e-9, 6),
           acc[3] + abs(e[1] - (acc[1] + acc[2])),
           acc[4] + 1.0]) AS st
  FROM series
)
SELECT event_type,
       CAST(st[4] AS BIGINT) AS n_buckets,
       round(st[1] + 1e-9, 4) + 0.0 AS level,
       round(st[2] + 1e-9, 4) + 0.0 AS trend,
       round(st[1] + st[2] + 1e-9, 4) + 0.0 AS forecast_next,
       round(st[3] / (st[4] - 1.0) + 1e-9, 4) + 0.0 AS one_step_mae
FROM folded ORDER BY event_type
"""


def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-trend decomposition by moving averages (the classical
    additive decompose underlying STL, Cleveland 1990 — here the
    moving-average variant: loess → centered MA, one pass): the hourly
    mean-value series per event type splits into trend (centered
    25-hour moving average, full windows only), seasonal (hour-of-day
    mean of the detrended series), and residual — the decomposition a
    monitoring pipeline runs before alerting on "value drifted"
    (CUSUM/Hampel fire on the RESIDUAL, not the raw series, or every
    daily cycle is an anomaly). Complements `events_periodogram`
    (detects the cycle) and `events_seasonal_backtest` (forecasts
    with it) with the decomposition itself.

    Shape: one scan → (type, hour-bucket) mean (map-side combinable;
    bucket arithmetic is pure integer epoch//3600, no session-timezone
    term), then two window passes over the BUCKETED series — rows
    ∝ types × hours, corpus-volume-independent, so the windows'
    per-key ordered sort is over a bounded series (the window_agg
    scale posture). Trend uses a ROWS frame ±12 with an exact
    25-row-count gate (series edges emit NULL, never a
    partial-window estimate); seasonal is a window avg partitioned by
    (type, hour-of-day) over the detrended values. Every stage is
    rounded 4dp under the shared half-up nudge before feeding the
    next, so the cross-engine float drift of an order-dependent sum
    never reaches a boundary.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("value").cast("double").alias("v"),
        (F.unix_micros(F.col("ts")) / 1_000_000).cast("long").alias("sec"),
    )
    hourly = ev.groupBy(
        "event_type", (F.col("sec") - F.col("sec") % 3600).alias("hsec")
    ).agg(_r4(F.avg("v")).alias("y"))
    wtr = (
        Window.partitionBy("event_type")
        .orderBy("hsec")
        .rowsBetween(-12, 12)
    )
    t1 = hourly.select(
        "event_type",
        "hsec",
        "y",
        F.when(F.count("y").over(wtr) == 25, _r4(F.avg("y").over(wtr))).alias(
            "trend"
        ),
    ).withColumn("detr", F.col("y") - F.col("trend"))
    wse = Window.partitionBy(
        "event_type", (F.col("hsec") / F.lit(3600)).cast("long") % 24
    )
    return (
        t1.withColumn("seasonal", _r4(F.avg("detr").over(wse)))
        .select(
            "event_type",
            F.timestamp_seconds(F.col("hsec")).alias("ts_hour"),
            "y",
            (F.col("trend") + 0.0).alias("trend"),
            (F.col("seasonal") + 0.0).alias("seasonal"),
            (_r4(F.col("y") - F.col("trend") - F.col("seasonal")) + 0.0).alias(
                "resid"
            ),
        )
        .orderBy("event_type", "ts_hour")
    )


EVENTS_STL_DECOMPOSE_SQL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS hsec,
         round(avg(value) + 1e-9, 4) AS y
  FROM events
  GROUP BY 1, 2
),
tr AS (
  SELECT event_type, hsec, y,
         CASE WHEN count(y) OVER w = 25
              THEN round(avg(y) OVER w + 1e-9, 4) END AS trend
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY hsec
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
se AS (
  SELECT event_type, hsec, y, trend,
         round(avg(y - trend) OVER (
             PARTITION BY event_type, (hsec // 3600) % 24
         ) + 1e-9, 4) AS seasonal
  FROM tr
)
SELECT event_type,
       make_timestamp(hsec * 1000000) AS ts_hour,
       y,
       trend + 0.0 AS trend,
       seasonal + 0.0 AS seasonal,
       round(y - trend - seasonal + 1e-9, 4) + 0.0 AS resid
FROM se
ORDER BY event_type, ts_hour
"""


_CUSUM_SP = (
    "round(greatest(CAST(0.0 AS DOUBLE),"
    " acc.sp + (x - mu - 0.5 * sigma)) + 1e-9, 6)"
)
_CUSUM_SN = (
    "round(greatest(CAST(0.0 AS DOUBLE),"
    " acc.sn + (mu - x - 0.5 * sigma)) + 1e-9, 6)"
)


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector (Page 1954 — the classical
    sequential change detector every monitoring stack ships) per event
    type over the hourly mean series: S+_t = max(0, S+_{t-1} +
    (x_t - mu - k)), S-_t = max(0, S-_{t-1} + (mu - x_t - k)) with the
    textbook allowance k = sigma/2 and decision threshold h = 4*sigma.
    Complements the retrospective tests (Pettitt localizes one
    historical shift; CUSUM is the ONLINE form — "when would the
    monitor have fired?"). Emits per type: series length, mu, sigma,
    both max statistics, the first alarm index (1-based hour position;
    0 = never fired) and the alarm side.

    The recursion is sequential but the series is calendar-bounded
    (hours of the fixture span — independent of corpus size), so the
    scalable shape is the events_holt_linear idiom: corpus-size
    aggregate to hourly buckets, collect each key's series into ONE
    array, fold with a higher-order ``aggregate`` — per-key state
    never leaves the executor. mu/sigma are 6dp-rounded scalars
    computed before the fold; S+/S- round 6dp EACH STEP (the pagerank
    discipline); alarm comparisons happen on those rounded values, so
    both engines take every threshold boundary identically.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = tracked_persist(
        ev.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hb"),
        ).agg((F.round(F.avg("value") + 1e-9, 6) + 0.0).alias("x"))
    )
    return cusum_from_hourly(hourly)


def cusum_from_hourly(hourly: DataFrame) -> DataFrame:
    """The bounded CUSUM finalize over an (event_type, hb, x) hourly
    relation — shared by the batch operator above and the streaming
    monitor (streaming/stream_queries.stream_cusum_alarm), so both
    run the identical fold and share one oracle."""
    stats = hourly.groupBy("event_type").agg(
        (F.round(F.avg("x") + 1e-9, 6) + 0.0).alias("mu"),
        (F.round(F.stddev_pop("x") + 1e-9, 6) + 0.0).alias("sigma"),
        F.count("*").cast("long").alias("n_hours"),
    )
    series = hourly.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(hb, x))), s -> s.x)"
        ).alias("xs")
    )
    fold = f"""
aggregate(
  xs,
  named_struct('sp', CAST(0.0 AS DOUBLE), 'sn', CAST(0.0 AS DOUBLE),
               'maxp', CAST(0.0 AS DOUBLE), 'maxn', CAST(0.0 AS DOUBLE),
               'alarm', CAST(0.0 AS DOUBLE), 'side', CAST(0.0 AS DOUBLE),
               'n', CAST(0.0 AS DOUBLE)),
  (acc, x) -> named_struct(
    'sp', {_CUSUM_SP},
    'sn', {_CUSUM_SN},
    'maxp', greatest(acc.maxp, {_CUSUM_SP}),
    'maxn', greatest(acc.maxn, {_CUSUM_SN}),
    'alarm', CASE WHEN acc.alarm > 0.0 THEN acc.alarm
                  WHEN {_CUSUM_SP} > 4.0 * sigma OR {_CUSUM_SN} > 4.0 * sigma
                  THEN acc.n + 1.0 ELSE 0.0 END,
    'side', CASE WHEN acc.side > 0.0 THEN acc.side
                 WHEN {_CUSUM_SP} > 4.0 * sigma THEN 1.0
                 WHEN {_CUSUM_SN} > 4.0 * sigma THEN 2.0
                 ELSE 0.0 END,
    'n', acc.n + 1.0))
"""
    return (
        series.join(stats, "event_type")
        .withColumn("st", F.expr(fold))
        .select(
            "event_type",
            "n_hours",
            "mu",
            "sigma",
            F.expr("round(st.maxp + 1e-9, 4) + 0.0").alias("max_cusum_pos"),
            F.expr("round(st.maxn + 1e-9, 4) + 0.0").alias("max_cusum_neg"),
            F.expr("CAST(st.alarm AS BIGINT)").alias("alarm_hour_idx"),
            F.expr(
                "CASE WHEN st.side = 1.0 THEN 'pos' "
                "WHEN st.side = 2.0 THEN 'neg' ELSE 'none' END"
            ).alias("alarm_side"),
        )
        .orderBy("event_type")
    )


# DuckDB twin: LIST accumulator (the holt_linear list_reduce
# discipline — struct_pack fields see a mutating acc, lists do not),
# seeded by PREPENDING the zero state; slots
# [sp, sn, maxp, maxn, alarm, side, n], elements [x, 0, 0, 0, 0, 0, 0].
_CUSUM_SP_SQL = (
    "round(greatest(CAST(0.0 AS DOUBLE),"
    " acc[1] + (e[1] - mu - 0.5 * sigma)) + 1e-9, 6)"
)
_CUSUM_SN_SQL = (
    "round(greatest(CAST(0.0 AS DOUBLE),"
    " acc[2] + (mu - e[1] - 0.5 * sigma)) + 1e-9, 6)"
)
EVENTS_CUSUM_CHANGEPOINT_SQL = f"""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hb,
         round(avg(value) + 1e-9, 6) + 0.0 AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         round(avg(x) + 1e-9, 6) + 0.0 AS mu,
         round(stddev_pop(x) + 1e-9, 6) + 0.0 AS sigma,
         count(*) AS n_hours
  FROM hourly GROUP BY event_type
),
series AS (
  SELECT event_type,
         list_prepend(
           [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
           list([x, CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0]
                ORDER BY hb)) AS elems
  FROM hourly GROUP BY event_type
),
folded AS (
  SELECT s.event_type, st.mu, st.sigma, st.n_hours,
         list_reduce(s.elems, (acc, e) -> [
           {_CUSUM_SP_SQL},
           {_CUSUM_SN_SQL},
           greatest(acc[3], {_CUSUM_SP_SQL}),
           greatest(acc[4], {_CUSUM_SN_SQL}),
           CASE WHEN acc[5] > 0.0 THEN acc[5]
                WHEN {_CUSUM_SP_SQL} > 4.0 * sigma
                  OR {_CUSUM_SN_SQL} > 4.0 * sigma
                THEN acc[7] + 1.0 ELSE 0.0 END,
           CASE WHEN acc[6] > 0.0 THEN acc[6]
                WHEN {_CUSUM_SP_SQL} > 4.0 * sigma THEN 1.0
                WHEN {_CUSUM_SN_SQL} > 4.0 * sigma THEN 2.0
                ELSE 0.0 END,
           acc[7] + 1.0]) AS st
  FROM series s JOIN stats st USING (event_type)
)
SELECT event_type,
       CAST(n_hours AS BIGINT) AS n_hours,
       mu, sigma,
       round(st[3] + 1e-9, 4) + 0.0 AS max_cusum_pos,
       round(st[4] + 1e-9, 4) + 0.0 AS max_cusum_neg,
       CAST(st[5] AS BIGINT) AS alarm_hour_idx,
       CASE WHEN st[6] = 1.0 THEN 'pos'
            WHEN st[6] = 2.0 THEN 'neg' ELSE 'none' END AS alarm_side
FROM folded ORDER BY event_type
"""




_WM_DELAYS = [60, 300, 600, 1800]  # candidate watermark delays, seconds


def watermark_delay_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay selection table — the LSH-banding-sweep
    discipline applied to the streaming job's one irreversible knob:
    for each candidate delay, the row mass a watermark at that delay
    would DROP as too-late versus the 5-minute-window state it must
    HOLD open at stream end. Picking a delay without this table is
    guessing; the reference job hard-codes its allowed lateness the
    same way every Flink/Spark pipeline does, and this is the measured
    curve that choice should come from.

    Arrival times are event time + a deterministic md5-derived jitter
    in [0, 30 min) (the seeded-noise idiom — both engines derive the
    identical dyadic rational per event), so lateness is exact integer
    seconds and every drop decision is reproducible cross-engine.
    One corpus pass to (lateness, window) rows; each delay's verdicts
    are bounded aggregates over it.
    """
    from cdc_realtime_pipeline_spark.operators.dq import _hex_uniform

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("eid"),
        F.unix_micros("ts").alias("us"),
    )
    base = ev.select(
        "us",
        F.floor(_hex_uniform("late|", "eid") * 1800)
        .cast("long")
        .alias("late_s"),
        (F.expr("us div 300000000")).alias("win5"),
    )
    stats = None
    for d in _WM_DELAYS:
        row = base.agg(
            F.lit(d).cast("long").alias("delay_sec"),
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("late_s") > d, 1)).alias("n_dropped"),
        ).select("delay_sec", "n_rows", "n_dropped")
        stats = row if stats is None else stats.unionByName(row)
    mx = base.agg((F.max("us") / 1000000).alias("max_s"))
    open_w = None
    for d in _WM_DELAYS:
        ow = (
            base.crossJoin(F.broadcast(mx))
            .filter((F.col("win5") + 1) * 300 > F.col("max_s") - d)
            .agg(
                F.lit(d).cast("long").alias("delay_sec"),
                F.countDistinct("win5").alias("n_open_windows"),
            )
        )
        open_w = ow if open_w is None else open_w.unionByName(ow)
    return (
        stats.join(open_w, "delay_sec")
        .select(
            "delay_sec",
            "n_rows",
            "n_dropped",
            (
                F.round(F.col("n_dropped") / F.col("n_rows") + 1e-9, 4) + 0.0
            ).alias("pct_dropped"),
            "n_open_windows",
        )
        .orderBy("delay_sec")
    )


def _wm_delay_sql() -> str:
    from cdc_realtime_pipeline_spark.operators.dq import _hex_uniform_sql

    u = _hex_uniform_sql("late|", "CAST(event_id AS VARCHAR)")
    arms = " UNION ALL ".join(
        f"""
SELECT CAST({d} AS BIGINT) AS delay_sec,
       count(*) AS n_rows,
       count(CASE WHEN late_s > {d} THEN 1 END) AS n_dropped,
       round(count(CASE WHEN late_s > {d} THEN 1 END)
             / CAST(count(*) AS DOUBLE) + 1e-9, 4) + 0.0 AS pct_dropped,
       (SELECT CAST(count(DISTINCT win5) AS BIGINT) FROM base
        WHERE (win5 + 1) * 300 > (SELECT max(us) / 1000000.0 FROM base) - {d})
         AS n_open_windows
FROM base"""
        for d in _WM_DELAYS
    )
    return f"""
WITH base AS (
  SELECT epoch_us(ts) AS us,
         CAST(floor({u} * 1800) AS BIGINT) AS late_s,
         epoch_us(ts) // 300000000 AS win5
  FROM events
)
SELECT * FROM ({arms}) ORDER BY delay_sec
"""


QUERIES = {
    "watermark_delay_sweep": watermark_delay_sweep,
    "events_cusum_changepoint": events_cusum_changepoint,
    "events_stl_decompose": events_stl_decompose,
    "value_cusum_drift": value_cusum_drift,
    "events_seasonal_backtest": events_seasonal_backtest,
    "events_periodogram": events_periodogram,
    "value_hampel_filter": value_hampel_filter,
    "events_holt_linear": events_holt_linear,

    "ohlc_bars_5m": ohlc_bars_5m,
    "timeseries_pattern_topk": timeseries_pattern_topk,
    "twap_hourly": twap_hourly,
    "gap_fill_locf": gap_fill_locf,
    "rolling_price_bands": rolling_price_bands,
    "trailing_10min_value": trailing_10min_value,
    "hourly_median_iqr": hourly_median_iqr,
}

ORACLES = {
    "watermark_delay_sweep": _wm_delay_sql(),
    "events_cusum_changepoint": EVENTS_CUSUM_CHANGEPOINT_SQL,
    "value_cusum_drift": VALUE_CUSUM_DRIFT_SQL,
    "events_seasonal_backtest": EVENTS_SEASONAL_BACKTEST_SQL,
    "events_periodogram": EVENTS_PERIODOGRAM_SQL,
    "value_hampel_filter": VALUE_HAMPEL_FILTER_SQL,
    "events_holt_linear": EVENTS_HOLT_LINEAR_SQL,
    "events_stl_decompose": EVENTS_STL_DECOMPOSE_SQL,
    "trailing_10min_value": TRAILING_10MIN_VALUE_SQL,
    "timeseries_pattern_topk": _pattern_topk_sql(),
    "hourly_median_iqr": HOURLY_MEDIAN_IQR_SQL,
    "ohlc_bars_5m": OHLC_BARS_5M_SQL,
    "twap_hourly": TWAP_HOURLY_SQL,
    "gap_fill_locf": GAP_FILL_LOCF_SQL,
    "rolling_price_bands": ROLLING_PRICE_BANDS_SQL,
}
