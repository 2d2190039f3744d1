"""Extended analytics surface: sessionization, quantiles, scalar functions.

Operators the reference doesn't have but a complete engine must
(SURVEY.md §2.5 notes them as "free in Spark" — here they're made
explicit, oracle-gated, and scale-shaped).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.session import load_table, tracked_persist

SESSION_GAP_MIN = 30


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: lag(ts) + running sum over gap>threshold.

    The standard batch sessionize (guide "Common OLAP patterns"): one
    shuffle on the user key; session ids are per-key cumulative sums, so
    the plan is two window passes over the same partitioning — Catalyst
    reuses the exchange.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("long") - F.col("prev_ts").cast("long")
                    > SESSION_GAP_MIN * 60
                )
            ).cast("int"),
        )
        .withColumn("session_seq", F.sum("new_session").over(wcum))
    )
    return (
        ev.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
    )


SESSIONIZE_SQL = f"""
WITH ev AS (
  SELECT *,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL
                   OR epoch(date_trunc('second', ts))::BIGINT
                      - epoch(date_trunc('second', prev_ts))::BIGINT > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), sessions AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       round(sum(value), 4) AS session_value
FROM sessions
GROUP BY 1, 2
"""


def sessionize_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the built-in ``session_window`` (the streaming-
    capable form of ``sessionize`` — same gap semantics, window merging
    handled by the engine). session end = last event + gap, so the
    oracle derives it as max(ts) + interval.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


SESSIONIZE_NATIVE_SQL = f"""
WITH ev AS (
  SELECT *,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL
                   OR ts - prev_ts > INTERVAL {SESSION_GAP_MIN} MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM ev
), sessions AS (
  SELECT *,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL {SESSION_GAP_MIN} MINUTE AS session_end,
       count(*) AS n_events,
       round(sum(value), 4) AS session_value
FROM sessions
GROUP BY user_id, session_seq
"""


def value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (ClickHouse
    ``quantile`` surface). Exact percentile sorts within groups — fine
    for bounded group counts; the approximate variant below is the
    100 TB path."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


VALUE_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events
GROUP BY event_type
"""


def value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL/GK-sketch family) — the scale path for
    quantiles: mergeable sketches, no per-group sort. Rows-only check
    (approximate VALUES differ across engines by design). One scalar
    column per percentile — the driver canonicalizer cannot hash array
    values.

    Self-checking invariant (VERDICT r2 #6): each percentile also
    carries its measured RANK error — the fraction of the group's rows
    ≤ the sketch's answer minus the target percentile — and a flag
    bounding it by the sketch guarantee (≤ 1/accuracy) plus one rank
    step (1/n, the best any answer can do on discrete data). A broken
    sketch flips ``within_bound`` under a rows-only gate.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.9, 10000).alias("p90"),
        F.percentile_approx("value", 0.99, 10000).alias("p99"),
    )
    # rank of each approx answer inside its own group: one broadcast
    # join of the tiny per-group agg back onto the events, no sort
    j = ev.join(F.broadcast(agg), "event_type")
    errs = j.groupBy("event_type", "p50", "p90", "p99").agg(
        F.count("*").alias("_n"),
        *[
            F.abs(
                F.avg((F.col("value") <= F.col(c)).cast("double")) - F.lit(p)
            ).alias(f"_err_{c}")
            for c, p in [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]
        ],
    )
    bound = F.lit(1.0 / 10000) + 1.0 / F.col("_n")
    return errs.select(
        "event_type",
        "p50",
        "p90",
        "p99",
        *[F.round(F.col(f"_err_{c}"), 6).alias(f"rank_err_{c}") for c in ["p50", "p90", "p99"]],
        (
            (F.col("_err_p50") <= bound)
            & (F.col("_err_p90") <= bound)
            & (F.col("_err_p99") <= bound)
        ).alias("within_bound"),
    )


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function surface sweep: string / math / date-time / JSON /
    conditional functions in one projection, every expression paired
    with a portable oracle equivalent (the engine's "function library"
    conformance query)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        # string
        F.upper("event_type").alias("s_upper"),
        F.substring("event_type", 1, 3).alias("s_substr"),
        F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias("s_concat"),
        F.length("props").alias("s_len"),
        F.lpad(F.col("user_id").cast("string"), 5, "0").alias("s_lpad"),
        F.reverse(F.col("event_type")).alias("s_reverse"),
        F.translate("event_type", "aeiou", "AEIOU").alias("s_translate"),
        # math
        F.round(F.abs(F.col("value") - 100), 4).alias("m_abs"),
        F.ceil("value").alias("m_ceil"),
        F.floor("value").alias("m_floor"),
        F.round(F.sqrt("value"), 6).alias("m_sqrt"),
        F.round(F.log1p("value"), 6).alias("m_log1p"),
        F.round(F.pow(F.col("value"), 0.25), 6).alias("m_pow"),
        (F.col("event_id") % 7).alias("m_mod"),
        # + 0.0: sign() emits exact {-1,0,1} but a -0.0 input (legal in
        # parquet) would surface as -0.0 on DuckDB only — cheap guard
        (F.sign(F.col("value") - 100) + 0.0).alias("m_sign"),
        # date-time
        F.year("ts").alias("d_year"),
        F.month("ts").alias("d_month"),
        F.dayofmonth("ts").alias("d_day"),
        F.hour("ts").alias("d_hour"),
        F.minute("ts").alias("d_minute"),
        F.date_format("ts", "yyyy-MM-dd").alias("d_fmt"),
        F.unix_timestamp("ts").alias("d_epoch"),
        # JSON + conditional
        F.get_json_object("props", "$.k").cast("long").alias("j_k"),
        F.when(F.col("value") > 100, "high").otherwise("low").alias("c_band"),
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("ok")).alias("c_nullif"),
    )


SCALAR_FUNCTIONS_SQL = """
SELECT event_id,
       upper(event_type) AS s_upper,
       substring(event_type, 1, 3) AS s_substr,
       event_type || '-' || CAST(user_id AS VARCHAR) AS s_concat,
       length(props) AS s_len,
       lpad(CAST(user_id AS VARCHAR), 5, '0') AS s_lpad,
       reverse(event_type) AS s_reverse,
       translate(event_type, 'aeiou', 'AEIOU') AS s_translate,
       round(abs(value - 100), 4) AS m_abs,
       CAST(ceil(value) AS BIGINT) AS m_ceil,
       CAST(floor(value) AS BIGINT) AS m_floor,
       round(sqrt(value), 6) AS m_sqrt,
       round(ln(1 + value), 6) AS m_log1p,
       round(pow(value, 0.25), 6) AS m_pow,
       event_id % 7 AS m_mod,
       CAST(sign(value - 100) AS DOUBLE) + 0.0 AS m_sign,
       CAST(year(ts) AS INTEGER) AS d_year,
       CAST(month(ts) AS INTEGER) AS d_month,
       CAST(day(ts) AS INTEGER) AS d_day,
       CAST(hour(ts) AS INTEGER) AS d_hour,
       CAST(minute(ts) AS INTEGER) AS d_minute,
       strftime(ts, '%Y-%m-%d') AS d_fmt,
       epoch(date_trunc('second', ts))::BIGINT AS d_epoch,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS j_k,
       CASE WHEN value > 100 THEN 'high' ELSE 'low' END AS c_band,
       coalesce(nullif(event_type, 'error'), 'ok') AS c_nullif
FROM events
"""


def stats_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface per event_type: sample/population
    variance and stddev, correlation, covariance. (Skewness/kurtosis
    are exposed by the engine but not oracle-gated — Spark uses
    population formulas where the oracle dialect bias-corrects.)"""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("double")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.stddev_samp("value"), 6).alias("stddev_s"),
            F.round(F.stddev_pop("value"), 6).alias("stddev_p"),
            F.round(F.var_samp("value"), 6).alias("var_s"),
            F.round(F.var_pop("value"), 6).alias("var_p"),
            # signed, can round to zero: + 0.0 normalizes DuckDB's
            # IEEE -0.0 (Spark HALF_UP never emits it; the driver's
            # value hash distinguishes the signs)
            (F.round(F.corr("value", "k"), 6) + 0.0).alias("corr_vk"),
            (F.round(F.covar_samp("value", "k"), 6) + 0.0).alias("covar_s"),
            (F.round(F.covar_pop("value", "k"), 6) + 0.0).alias("covar_p"),
        )
    )


STATS_FUNCTIONS_SQL = """
SELECT event_type,
       round(stddev_samp(value), 6) AS stddev_s,
       round(stddev_pop(value), 6) AS stddev_p,
       round(var_samp(value), 6) AS var_s,
       round(var_pop(value), 6) AS var_p,
       round(corr(value, k), 6) + 0.0 AS corr_vk,
       round(covar_samp(value, k), 6) + 0.0 AS covar_s,
       round(covar_pop(value, k), 6) + 0.0 AS covar_p
FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k FROM events)
GROUP BY event_type
"""


def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window-function surface: rank/dense_rank/percent_rank/
    cume_dist/ntile over a deterministic per-key order."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


WINDOW_RANK_FUNCTIONS_SQL = """
SELECT user_id, event_id,
       rank() OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       round(percent_rank() OVER w, 6) AS prnk,
       round(cume_dist() OVER w, 6) AS cdist,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM events
WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
"""


def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface over order dates: add/sub,
    diffs, month arithmetic, boundary snapping, ISO fields."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.date_add(d, 30).alias("plus_30d"),
        F.date_sub(d, 7).alias("minus_7d"),
        F.add_months(d, 3).alias("plus_3m"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "quarter").alias("quarter_start"),
        F.datediff(F.lit("2000-01-01").cast("date"), d).alias("days_to_y2k"),
        F.dayofyear(d).alias("doy"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("q"),
    )


DATE_FUNCTIONS_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS plus_30d,
       CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY AS DATE) AS minus_7d,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
       CAST(quarter(o_orderdate) AS INTEGER) AS q
FROM orders WHERE o_orderkey % 50 = 0
"""


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping-sets over event_type × value band."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "band", F.when(F.col("value") > 100, "high").otherwise("low")
    )
    return ev.cube("event_type", "band").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total")
    )


EVENTS_CUBE_SQL = """
SELECT event_type, band, count(*) AS n, round(sum(value), 4) AS total
FROM (SELECT *, CASE WHEN value > 100 THEN 'high' ELSE 'low' END AS band FROM events)
GROUP BY CUBE (event_type, band)
"""


def events_rollup_multi_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup at three granularities (1 m / 5 m /
    1 h) from one scan — the hypertable/materialized-rollup pattern.
    ``explode`` fans each row to its granularities, then one shuffle
    aggregates all three levels together (equivalent to grouping sets
    over time buckets); at scale this replaces three separate scans of
    the fact table with one.
    """
    ev = load_table(spark, sf_dir, "events")
    fanned = ev.select(
        "value",
        F.explode(F.array(F.lit(60), F.lit(300), F.lit(3600))).alias("gran_s"),
        F.col("ts"),
    ).withColumn(
        "bucket",
        F.timestamp_seconds(
            (F.floor(F.unix_timestamp("ts") / F.col("gran_s")) * F.col("gran_s")).cast(
                "long"
            )
        ),
    )
    return (
        fanned.groupBy("gran_s", "bucket")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .orderBy("gran_s", "bucket")
    )


EVENTS_ROLLUP_MULTI_GRANULARITY_SQL = """
SELECT gran_s,
       make_timestamp(CAST(floor(epoch(ts) / gran_s) * gran_s AS BIGINT) * 1000000) AS bucket,
       count(*) AS n, round(sum(value), 4) AS total
FROM events, (SELECT unnest([60, 300, 3600]) AS gran_s)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def null_semantics_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics conformance row — the classic cross-engine traps
    pinned in one aggregate: null-skipping in count/avg, COALESCE /
    NULLIF, null-safe equality (``<=>`` ≙ IS NOT DISTINCT FROM), and
    window ordering with EXPLICIT null placement (Spark defaults nulls
    FIRST ascending, DuckDB LAST — implicit ordering diverges, so the
    engine contract is: always say NULLS LAST/FIRST).

    Nulls are planted deterministically (every 7th value) since the
    fixture is fully dense.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value"))
    )
    w = Window.orderBy(F.asc_nulls_last("v"), F.asc("event_id"))
    ranked = ev.withColumn("rk", F.row_number().over(w))
    last_ranked = ranked.agg(
        F.max(F.when(F.col("rk") == 1, F.col("event_id"))).alias("first_id_nulls_last")
    )
    agg = ev.agg(
        F.count("*").alias("n_rows"),
        F.count("v").alias("n_not_null"),  # count(col) skips nulls
        F.sum(F.col("v").isNull().cast("long")).alias("n_null"),
        F.round(F.avg("v") + 1e-9, 4).alias("avg_skips_nulls"),
        F.round(F.sum(F.coalesce("v", F.lit(-1.0))) + 1e-9, 2).alias("sum_coalesced"),
        F.count(F.nullif(F.col("event_type"), F.lit("view"))).alias("n_not_view"),
        F.sum(F.col("v").eqNullSafe(F.lit(None).cast("double")).cast("long")).alias(
            "n_nullsafe_eq_null"
        ),
    )
    return agg.crossJoin(last_ranked)


NULL_SEMANTICS_CONFORMANCE_SQL = """
WITH ev AS (
  SELECT *, CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events
),
ranked AS (
  SELECT event_id, row_number() OVER (ORDER BY v ASC NULLS LAST, event_id ASC) AS rk
  FROM ev
)
SELECT count(*) AS n_rows,
       count(v) AS n_not_null,
       CAST(count(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_null,
       round(avg(v) + 1e-9, 4) AS avg_skips_nulls,
       round(sum(coalesce(v, -1.0)) + 1e-9, 2) AS sum_coalesced,
       count(nullif(event_type, 'view')) AS n_not_view,
       CAST(count(CASE WHEN v IS NOT DISTINCT FROM NULL THEN 1 END) AS BIGINT)
         AS n_nullsafe_eq_null,
       (SELECT max(CASE WHEN rk = 1 THEN event_id END) FROM ranked)
         AS first_id_nulls_last
FROM ev
"""


def decimal_arithmetic_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal (money) arithmetic — the reference carries prices
    as Debezium decimal STRINGS precisely because float money drifts;
    this row pins scaled-integer semantics across engines: DECIMAL sums
    are exact, scale propagation through multiplication, round-half-up
    (away from zero) at scale 2, and an average derived from the exact
    integer sum with an explicit half-up formula.

    The round-3 gate proved "decimal = no nudges needed" FALSE
    (VERDICT r3 #1): DuckDB ``avg(DECIMAL)`` returns DOUBLE, so its
    avg transits float rounding while Spark's decimal avg is
    exact+HALF_UP — and DuckDB decimal DIVISION also returns DOUBLE,
    so the "divide exact sums" form re-enters the same trap. Related
    dialect landmines pinned in tests/test_conformance.py: DuckDB
    decimal→decimal downscale casts TRUNCATE, and bare SQL numeric
    literals are DECIMAL (probes written with them mislead).

    The round-4 gate then proved the *nudge-round* form
    ``round(value + 1e-9, 4)`` equally unsound (VERDICT r4 #1): the
    first step was still an engine-NATIVE round on a raw double —
    Spark rounds via BigDecimal of the shortest decimal repr with
    HALF_UP, DuckDB via scaled float multiply — and doubles of the
    form ``gridpoint + 0.00005 − 1e-9`` (e.g. 304.382349999) land the
    nudged value exactly on a .00005 tie where the engines disagree in
    BOTH directions. The nudge relocates ties; it does not kill them.

    Round-5 repair — NO engine-native rounding anywhere in the double
    domain:

    * ``u = CAST(floor(value·1e4 + 0.5 + 1e-6) AS BIGINT)`` — IEEE
      multiply, two IEEE adds, and floor are each a single
      correctly-rounded primitive that evaluates BIT-IDENTICALLY on
      both engines (only ``round()``'s *implementation* differs
      between them); any input double therefore maps to the same
      integer grid unit on both sides, fixture-independent by
      construction. ``tests/test_conformance.py::
      test_decimal_floor_grid_bit_identical`` pins the round-4
      planted boundary doubles as literals.
    * ``dv = u · 0.0001`` as one EXACT decimal multiply
      (DECIMAL(18,0) × DECIMAL(5,4) — scale addition, no rounding on
      either engine); every downstream value (sums, ×3 scale
      propagation, scale-2 re-round, half-up average) lives in exact
      decimal/integer arithmetic.
    * ``avg_exact`` never transits a decimal/float divide on either
      engine: half-up(su/n) = sign(su)·((2·|su|+n) div (2·n)) in pure
      integer arithmetic (trunc==floor on the positive operand), then
      the same exact ×0.0001 decimal scaling. Spark's own decimal
      ``avg`` is deliberately NOT used: it rounds at scale+4 first,
      a double-rounding vs the oracle's single 4dp round.

    ``test_extended.py::test_decimal_round_half_ties`` pins the .xx5
    tie behavior (Spark HALF_UP == DuckDB round = half-away-from-zero
    on DECIMAL) with planted literals.

    Round-6: the OUTPUT surface is scaled-integer BIGINT units
    (``*_u4`` = 0.0001 units, ``*_u2`` = 0.01 units) instead of
    DECIMAL columns (VERDICT r5 #2): the values were proven
    byte-identical cross-engine for three rounds, but a DECIMAL /
    HUGEINT output column is rendered differently by different result
    hashers (Arrow decimal128 vs Python Decimal repr). The conformance
    semantics — sum exactness, ×3 scale propagation, scale-2 re-round,
    integer half-up average — are pinned just as hard by the integer
    grid (the decimal math still runs internally; the final exact
    ×10^k multiply merely re-expresses it), and BIGINT hashes
    identically everywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    unit = F.lit("0.0001").cast("decimal(5,4)")
    d = ev.select(
        F.floor(F.col("value") * 10000.0 + 0.5 + 1e-6).cast("long").alias("u")
    ).select(
        "u",
        (F.col("u").cast("decimal(18,0)") * unit).cast("decimal(18,4)").alias("dv"),
    ).select(
        "u",
        "dv",
        (F.col("dv") * F.lit(3).cast("decimal(3,0)")).alias("dv3"),
    )
    agg = d.agg(
        F.sum("dv").cast("decimal(38,4)").alias("sum_exact"),
        F.sum("u").alias("su"),
        F.count("*").alias("n"),
        F.sum("dv3").cast("decimal(38,4)").alias("sum_times3"),
        F.sum(F.round(F.col("dv"), 2)).cast("decimal(38,2)").alias("sum_rounded2"),
    )
    au = F.signum("su").cast("long") * F.expr("(2 * abs(su) + n) div (2 * n)")
    ten4 = F.lit(10000).cast("decimal(5,0)")
    hund = F.lit(100).cast("decimal(3,0)")
    return agg.select(
        (F.col("sum_exact") * ten4).cast("long").alias("sum_exact_u4"),
        au.cast("long").alias("avg_exact_u4"),
        (F.col("sum_times3") * ten4).cast("long").alias("sum_times3_u4"),
        (F.col("sum_rounded2") * hund).cast("long").alias("sum_rounded2_u2"),
    )


DECIMAL_ARITHMETIC_CONFORMANCE_SQL = """
WITH d0 AS (
  SELECT CAST(floor(value * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)
              + 1e-6) AS BIGINT) AS u
  FROM events
),
d AS (
  SELECT u,
         CAST(CAST(u AS DECIMAL(18,0)) * CAST('0.0001' AS DECIMAL(5,4))
              AS DECIMAL(18,4)) AS dv
  FROM d0
),
d2 AS (
  SELECT u, dv, dv * CAST(3 AS DECIMAL(3,0)) AS dv3 FROM d
),
agg AS (
  SELECT CAST(sum(dv) AS DECIMAL(38,4)) AS sum_exact,
         CAST(sum(u) AS BIGINT) AS su,
         count(*) AS n,
         CAST(sum(dv3) AS DECIMAL(38,4)) AS sum_times3,
         CAST(sum(round(dv, 2)) AS DECIMAL(38,2)) AS sum_rounded2
  FROM d2
)
SELECT CAST(sum_exact * CAST(10000 AS DECIMAL(5,0)) AS BIGINT) AS sum_exact_u4,
       CAST(CAST(sign(su) AS BIGINT) * ((2 * abs(su) + n) // (2 * n)) AS BIGINT)
         AS avg_exact_u4,
       CAST(sum_times3 * CAST(10000 AS DECIMAL(5,0)) AS BIGINT) AS sum_times3_u4,
       CAST(sum_rounded2 * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS sum_rounded2_u2
FROM agg
"""


_COLLATION_STRINGS = [
    "banana",
    "Apple",
    "apple",
    "1digit",
    "Zürich",
    "zebra",
    "Ärger",
    "café",
    "a b",
    "A",
]


def string_collation_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String collation + unicode semantics pinned cross-engine: both
    engines sort strings by CODE POINT (Spark UTF8_BINARY ≡ DuckDB
    binary collation for BMP text — digits < uppercase < lowercase <
    accented), length counts code points (the emoji surrogate pair is
    ONE character), and substring/instr/reverse/translate/lpad index by
    character, not byte, through multibyte text.

    One documented exclusion: ``upper('ß')`` diverges (Java folds to
    'SS', DuckDB to the capital sharp s 'ẞ') — locale-dependent case
    folding is exactly the class a portable pipeline must not rely on,
    so it is pinned OUT of the conformance surface (no ß in the
    planted list) and called out here instead.
    """
    vals = F.array(*[F.lit(x) for x in _COLLATION_STRINGS])
    rows = spark.range(1).select(F.explode(vals).alias("s"))
    return rows.agg(
        F.concat_ws("|", F.array_sort(F.collect_list("s"))).alias("sorted_concat"),
        F.min("s").alias("min_s"),
        F.max("s").alias("max_s"),
        F.sum((F.col("s") < "b").cast("long")).alias("n_lt_b"),
        F.upper(F.lit("café äöü")).alias("upper_unicode"),
        F.lower(F.lit("ÄÖÜ")).alias("lower_unicode"),
        F.length(F.lit("Äbc😀")).cast("long").alias("len_codepoints"),
        F.substring(F.lit("Ääbc"), 2, 2).alias("substr_multibyte"),
        F.expr("instr('caféx', 'é')").cast("long").alias("instr_multibyte"),
        F.reverse(F.lit("Äb😀")).alias("reverse_multibyte"),
        F.lpad(F.lit("ä"), 3, "0").alias("lpad_multibyte"),
        F.translate(F.lit("abcä"), "aä", "xy").alias("translate_unicode"),
    )


STRING_COLLATION_CONFORMANCE_SQL = f"""
WITH t(s) AS (VALUES {", ".join("('" + x + "')" for x in _COLLATION_STRINGS)})
SELECT list_aggregate(list_sort(list(s)), 'string_agg', '|') AS sorted_concat,
       min(s) AS min_s,
       max(s) AS max_s,
       CAST(count(CASE WHEN s < 'b' THEN 1 END) AS BIGINT) AS n_lt_b,
       upper('café äöü') AS upper_unicode,
       lower('ÄÖÜ') AS lower_unicode,
       CAST(length('Äbc😀') AS BIGINT) AS len_codepoints,
       substring('Ääbc', 2, 2) AS substr_multibyte,
       CAST(instr('caféx', 'é') AS BIGINT) AS instr_multibyte,
       reverse('Äb😀') AS reverse_multibyte,
       lpad('ä', 3, '0') AS lpad_multibyte,
       translate('abcä', 'aä', 'xy') AS translate_unicode
FROM t
"""


def regex_functions_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-function surface pinned cross-engine over real rows (the
    events ``props`` JSON strings) plus planted backreference cases:
    rlike/regexp_matches filters, group extraction with arithmetic on
    the result, extract_all multiplicity, global regexp_replace, and
    regex split counts. Dialect note pinned here: replacement
    backreferences are ``$1`` in Spark (Java) and ``\\1`` in DuckDB,
    and DuckDB needs the explicit ``'g'`` flag where Spark replaces
    globally by default — the SQL text differs, the required RESULTS
    are identical, which is exactly what the gate hashes.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.sum(F.col("props").rlike(r'"k":\s*\d+').cast("long")).alias("n_like"),
        F.sum(
            F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("long")
        ).alias("k_sum"),
        F.sum(F.size(F.regexp_extract_all(F.col("event_type"), F.lit("[aeiou]"), 0)))
        .alias("n_vowels"),
        F.count_distinct(
            F.regexp_replace(F.col("event_type"), "[aeiou]", "*")
        ).alias("n_distinct_masked"),
        F.sum(F.size(F.split(F.col("props"), r"[:,{}]")).cast("long")).alias(
            "n_split_parts"
        ),
    )
    return agg.select(
        "*",
        F.regexp_replace(F.lit("ab12cd34"), r"(\d)(\d)", r"$2$1").alias("backref"),
        F.regexp_extract(F.lit("v=42;w=7"), r"w=(\d+)", 1).cast("long").alias(
            "extract_group"
        ),
    )


REGEX_FUNCTIONS_CONFORMANCE_SQL = r"""
SELECT CAST(count(CASE WHEN regexp_matches(props, '"k":\s*\d+') THEN 1 END)
            AS BIGINT) AS n_like,
       CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT))
            AS BIGINT) AS k_sum,
       CAST(sum(len(regexp_extract_all(event_type, '[aeiou]'))) AS BIGINT)
         AS n_vowels,
       count(DISTINCT regexp_replace(event_type, '[aeiou]', '*', 'g'))
         AS n_distinct_masked,
       CAST(sum(len(string_split_regex(props, '[:,{}]'))) AS BIGINT)
         AS n_split_parts,
       regexp_replace('ab12cd34', '(\d)(\d)', '\2\1', 'g') AS backref,
       CAST(regexp_extract('v=42;w=7', 'w=(\d+)', 1) AS BIGINT) AS extract_group
FROM events
"""


_CSQ_SQL_BODY = """
SELECT
  (SELECT count(*) FROM {c} c
    WHERE c.c_acctbal > (SELECT avg(c2.c_acctbal) FROM {c} c2
                          WHERE c2.c_nationkey = c.c_nationkey))
    AS n_above_nation_avg,
  (SELECT count(*) FROM {c} c
    WHERE EXISTS (SELECT 1 FROM {o} o
                   WHERE o.o_custkey = c.c_custkey
                     AND o.o_totalprice > 150000))
    AS n_with_big_order,
  (SELECT count(*) FROM {c} c
    WHERE NOT EXISTS (SELECT 1 FROM {o} o
                       WHERE o.o_custkey = c.c_custkey))
    AS n_without_orders,
  (SELECT count(*) FROM {o} o
    WHERE o.o_totalprice > 1.5 * (SELECT avg(o2.o_totalprice) FROM {o} o2
                                   WHERE o2.o_custkey = o.o_custkey))
    AS n_orders_above_cust_avg
"""


def correlated_subquery_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery conformance row: scalar correlated subquery
    (acctbal vs own nation's average), correlated EXISTS / NOT EXISTS
    (customers with a >150k order / with no orders), and a
    self-correlated scalar (orders 1.5× above their customer's own
    average) — the decorrelation surface, pinned as one scalar row with
    the IDENTICAL SQL text on both engines.

    Scale posture: Catalyst decorrelates each subquery into an
    aggregate + equi-join on the correlation key (verified via
    ``.explain`` — no per-row subplan execution exists in Spark, a
    correlated form that failed to decorrelate would be rejected at
    analysis), so every branch is one keyed shuffle over the customer /
    orders key — the same plan shape a hand-written groupBy+join would
    produce, with the declarative form left to the optimizer.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("csq_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("csq_orders")
    return spark.sql(_CSQ_SQL_BODY.format(c="csq_customer", o="csq_orders"))


CORRELATED_SUBQUERY_CONFORMANCE_SQL = _CSQ_SQL_BODY.format(c="customer", o="orders")


def lateral_join_topk_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL-join conformance: per-customer top-2 orders by price via
    a correlated LATERAL subquery with ORDER BY … LIMIT — the
    declarative per-group top-K form (the imperative twin is the rank
    window in `top_parts_per_supplier`). Deterministic under ties via
    the (price DESC, orderkey ASC) compound sort key.

    Scale posture (verified on the optimized plan): Catalyst
    decorrelates the correlated LIMIT into a `row_number` window +
    ``WindowGroupLimit`` — a map-side per-group top-2 BEFORE the
    shuffle, then the rank filter after it; it even infers the
    customer-side ``%10`` predicate onto the orders scan. Same single
    correlation-key shuffle the hand-written window form pays, with
    group-limit pushdown on top; nothing per-row, nothing nested-loop.
    The thinning itself exists only to bound the gate row count.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        _LATERAL_TOPK_BODY.format(c="lat_customer", o="lat_orders")
    )


_LATERAL_TOPK_BODY = """
SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
FROM {c} c JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM {o} o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2
) t
WHERE c.c_custkey % 10 = 0
"""

# DuckDB requires an explicit ON for JOIN LATERAL; Spark takes none —
# the one syntactic divergence, semantics identical
LATERAL_JOIN_TOPK_CONFORMANCE_SQL = (
    _LATERAL_TOPK_BODY.format(c="customer", o="orders").replace(
        ") t", ") t ON true"
    )
)


def listagg_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg) conformance:
    per event_type, the user_id sequence ordered by event_id — the
    reporting-layer op whose result is ORDER-DEFINED, so both engines
    must agree on the WITHIN GROUP ordering, not just the member set.
    The concatenation is md5-collapsed so the gate row stays small
    (and the hash only matches if the full ordered string matches
    byte-for-byte). Spark 4's ``listagg … WITHIN GROUP (ORDER BY)`` ≡
    DuckDB's ``string_agg(… ORDER BY)``; the order key (event_id) is
    unique, so the ordering is total — engines are free to disagree on
    ties otherwise, which is why the conformance contract requires a
    tie-free key.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    ev.createOrReplaceTempView("la_events")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               md5(listagg(CAST(user_id AS STRING), ',')
                   WITHIN GROUP (ORDER BY event_id)) AS seq_md5
        FROM la_events GROUP BY event_type ORDER BY event_type
        """
    )


LISTAGG_CONFORMANCE_SQL = """
SELECT event_type, count(*) AS n,
       md5(string_agg(CAST(user_id AS VARCHAR), ',' ORDER BY event_id))
         AS seq_md5
FROM events WHERE event_id % 97 = 0
GROUP BY event_type ORDER BY event_type
"""


def try_functions_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic conformance: the ``try_*`` family returns
    NULL where strict ANSI evaluation would raise — division by zero,
    unparseable casts, 64-bit overflow. The engine contract a fault-
    tolerant 100 TB pipeline depends on: one poisoned row must yield
    one NULL, never a failed stage. Planted cases: denominator
    ``event_id % 5`` (zero on every 5th row), a non-numeric string
    cast, ``Long.MAX + event_id`` (overflows for every id > 0), and a
    numeric round-trip through string that must survive.

    The oracle expresses the identical SEMANTICS in DuckDB's dialect
    (TRY_CAST; CASE-guarded division/overflow — DuckDB raises on
    both, so the guard IS its try-form); the row pins results, not
    syntax. The safe-division sum is decimal-summed from 4dp-rounded
    quotients so float summation order can't drift.
    """
    ev = load_table(spark, sf_dir, "events")
    safe_div = F.round(F.expr("try_divide(value, event_id % 5)") + 1e-9, 4)
    return ev.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.expr("try_divide(value, event_id % 5)").isNull().cast("long")).alias(
            "n_div_null"
        ),
        F.sum(safe_div.cast("decimal(28,4)")).alias("sum_safe_div"),
        F.sum(F.expr("try_cast(event_type AS DOUBLE)").isNull().cast("long")).alias(
            "n_badcast_null"
        ),
        F.sum(
            F.expr("try_add(9223372036854775807L, event_id)").isNull().cast("long")
        ).alias("n_overflow_null"),
        F.sum(
            (
                F.expr("try_cast(cast(value AS STRING) AS DOUBLE)") == F.col("value")
            ).cast("long")
        ).alias("n_roundtrip_ok"),
    )


TRY_FUNCTIONS_CONFORMANCE_SQL = """
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_div_null,
       sum(CAST(round(CASE WHEN event_id % 5 = 0 THEN NULL
                           ELSE value / (event_id % 5) END + 1e-9, 4)
                AS DECIMAL(28,4))) AS sum_safe_div,
       CAST(sum(CASE WHEN TRY_CAST(event_type AS DOUBLE) IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_badcast_null,
       CAST(sum(CASE WHEN event_id > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overflow_null,
       CAST(sum(CASE WHEN TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) = value
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok
FROM events
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (the product-analytics classic, CEP-lite):
    per user, did view → click → purchase happen IN ORDER? Computed
    with three min-timestamp aggregates and ordering predicates — one
    shuffle on the user key, no joins, no per-row state.
    """
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    # NB: stage k uses the first click AFTER the first view, not the
    # global first click — recompute conditionally via a second pass
    # would cost another shuffle; the standard "unordered-first" funnel
    # (min timestamps + ordering predicate) is the documented semantic
    # here and in the oracle.
    reached2 = F.col("t_view").isNotNull() & F.col("t_click").isNotNull() & (
        F.col("t_view") <= F.col("t_click")
    )
    reached3 = reached2 & F.col("t_buy").isNotNull() & (F.col("t_click") <= F.col("t_buy"))
    return first.agg(
        F.count("*").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).alias("n_viewed"),
        F.sum(reached2.cast("long")).alias("n_view_then_click"),
        F.sum(reached3.cast("long")).alias("n_full_funnel"),
    )


FUNNEL_CONVERSION_SQL = """
WITH first AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       CAST(count(t_view) AS BIGINT) AS n_viewed,
       CAST(count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                        AND t_view <= t_click THEN 1 END) AS BIGINT) AS n_view_then_click,
       CAST(count(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                        AND t_view <= t_click AND t_buy IS NOT NULL
                        AND t_click <= t_buy THEN 1 END) AS BIGINT) AS n_full_funnel
FROM first
"""


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the same
    user's most recent click strictly before it, if that click is
    within a 1-hour window — the other product-analytics classic next
    to funnel/cohort. One window pass per user (running max of click
    time over rows-preceding — no self-join, no per-row state), then a
    daily rollup.

    Cross-engine discipline: event times compare as integer
    microseconds (``unix_micros``/``epoch_us``), the attribution lag
    sums exactly as integer µs, and the average converts to minutes in
    one identically-written double expression — no float accumulation.

    Scale: the window partitions by user (millions of bounded
    partitions, no global sort) and the rollup is a tiny (day) agg.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(F.when(F.col("event_type") == "click", F.col("us"))).over(w)
    purchases = (
        ev.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("last_click_us").isNotNull()
            & ((F.col("us") - F.col("last_click_us")) <= 3_600_000_000),
            (F.col("us") - F.col("last_click_us")).alias("lag_us"),
        )
        .toDF("day", "attributed", "lag_us")
    )
    agg = purchases.groupBy("day").agg(
        F.count("*").alias("n_purchases"),
        F.sum(F.col("attributed").cast("long")).alias("n_attributed"),
        F.sum(F.when(F.col("attributed"), F.col("lag_us")).otherwise(0)).alias(
            "_lag_sum_us"
        ),
    )
    avg_mins = (
        F.col("_lag_sum_us").cast("double")
        / F.greatest(F.col("n_attributed"), F.lit(1))
        / 60000000.0
    )
    return agg.select(
        "day",
        "n_purchases",
        "n_attributed",
        F.round(avg_mins + 1e-9, 4).alias("avg_mins_to_convert"),
    ).orderBy("day")


ATTRIBUTION_LAST_TOUCH_SQL = """
WITH ev AS (
  SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us FROM events
),
marked AS (
  SELECT *,
         max(CASE WHEN event_type = 'click' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_click_us
  FROM ev
),
purchases AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         last_click_us IS NOT NULL
           AND (us - last_click_us) <= 3600000000 AS attributed,
         us - last_click_us AS lag_us
  FROM marked WHERE event_type = 'purchase'
),
agg AS (
  SELECT day, count(*) AS n_purchases,
         CAST(count(CASE WHEN attributed THEN 1 END) AS BIGINT) AS n_attributed,
         CAST(sum(CASE WHEN attributed THEN lag_us ELSE 0 END) AS BIGINT)
           AS lag_sum_us
  FROM purchases GROUP BY day
)
SELECT day, n_purchases, n_attributed,
       round(CAST(lag_sum_us AS DOUBLE)
             / greatest(n_attributed, 1) / 60000000.0 + 1e-9, 4)
         AS avg_mins_to_convert
FROM agg ORDER BY day
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by their FIRST active
    week; for each (cohort, weeks-since) cell, how many came back.
    Two aggregates + one equi-join on the user key — the cohort matrix
    every growth dashboard renders. (Weekly because the fixture spans
    one month; the shape is granularity-agnostic.)
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    active = ev.distinct()
    cohort = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    joined = active.join(cohort, "user_id")
    weeks_since = (
        (F.unix_timestamp("week") - F.unix_timestamp("cohort_week")) / 604800
    ).cast("long")
    return (
        joined.groupBy(
            F.col("cohort_week").cast("timestamp").alias("cohort_week"),
            weeks_since.alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "weeks_since")
    )


COHORT_RETENTION_SQL = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
  FROM events
),
cohort AS (
  SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id
)
SELECT c.cohort_week,
       CAST((epoch(a.week) - epoch(c.cohort_week)) / 604800 AS BIGINT) AS weeks_since,
       count(DISTINCT a.user_id) AS n_active
FROM active a JOIN cohort c ON a.user_id = c.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the revenue companion to
    `cohort_retention`: customers grouped by FIRST-order month, each
    cohort's per-customer cumulative revenue tracked by months-since
    (the curve whose plateau height is "LTV" and whose slope decay
    sets payback windows). Month arithmetic uses the integer month
    index year·12+month on both engines — no dialect date-diff
    semantics in the key.

    Shape: two aggregates + one user-key equi-join (retention's
    shape) + a cumulative window over the cohort×age MATRIX (bounded
    by time span², never order volume). Float discipline: monthly
    revenue is rounded FIRST (shared nudge), then the cumulative sum
    runs over the rounded values in the window's deterministic age
    order — so the running LTV is bit-identical cross-engine by
    construction, not by tolerance.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi"),
        "o_totalprice",
    )
    first = o.groupBy("o_custkey").agg(F.min("mi").alias("cmi"))
    sizes = first.groupBy("cmi").agg(F.count("*").cast("long").alias("n_customers"))
    cells = (
        o.join(first, "o_custkey")
        .groupBy("cmi", (F.col("mi") - F.col("cmi")).alias("age_months"))
        .agg(F.round(F.sum("o_totalprice") + 1e-9, 2).alias("rev_month"))
    )
    w = (
        Window.partitionBy("cmi")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn("cum_rev", F.sum("rev_month").over(w))
        .join(sizes, "cmi")
        .select(
            F.col("cmi").alias("cohort_month_index"),
            "age_months",
            "n_customers",
            "rev_month",
            F.round(F.col("cum_rev") / F.col("n_customers") + 1e-9, 4).alias(
                "ltv_per_customer"
            ),
        )
        .orderBy("cohort_month_index", "age_months")
    )


ORDERS_COHORT_LTV_CURVE_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
         o_totalprice
  FROM orders
),
first AS (SELECT o_custkey, min(mi) AS cmi FROM o GROUP BY o_custkey),
sizes AS (SELECT cmi, count(*) AS n_customers FROM first GROUP BY cmi),
cells AS (
  SELECT f.cmi, o.mi - f.cmi AS age_months,
         round(sum(o.o_totalprice) + 1e-9, 2) AS rev_month
  FROM o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY f.cmi, age_months
),
walked AS (
  SELECT cmi, age_months, rev_month,
         sum(rev_month) OVER (PARTITION BY cmi ORDER BY age_months
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum_rev
  FROM cells
)
SELECT w.cmi AS cohort_month_index,
       w.age_months,
       CAST(s.n_customers AS BIGINT) AS n_customers,
       w.rev_month,
       round(w.cum_rev / s.n_customers + 1e-9, 4) AS ltv_per_customer
FROM walked w JOIN sizes s ON w.cmi = s.cmi
ORDER BY cohort_month_index, age_months
"""


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def docs_lang_source_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot operator surface: per-source document counts spread into
    one column per language (the wide matrix a corpus dashboard
    renders). The pivot value list is EXPLICIT — with an inferred list
    Spark must run an extra distinct job and the output schema becomes
    data-dependent, which breaks at 100 TB and under schema contracts.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .pivot("lang", _PIVOT_LANGS)
        .count()
        .na.fill(0, _PIVOT_LANGS)
        .orderBy("source")
    )


DOCS_LANG_SOURCE_PIVOT_SQL = f"""
SELECT source,
       {', '.join(f"count(CASE WHEN lang = '{lg}' THEN 1 END) AS {lg}" for lg in _PIVOT_LANGS)}
FROM documents GROUP BY source ORDER BY source
"""


def file_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-format surface: the same relation written to and read
    back from JSONL and headered CSV (explicit schemas on read — never
    inference in production), aggregated per format. Both format legs
    must agree with the parquet ground truth, which is the oracle.
    Text columns stay out of the CSV leg by design (quoting/newline
    escapes differ across engines; parquet/JSON are the text carriers).

    Scratch discipline (ADVICE r2): one per-session dir, overwritten in
    place on re-invocation and removed at exit — repeated gate/bench
    runs don't leak temp dirs. CSV null handling is pinned explicitly
    (``nullValue='\\\\N'`` on write AND read): a null and an empty
    string round-trip distinguishably, so equality with the parquet
    ground truth doesn't depend on the fixture containing neither.
    """
    from cdc_realtime_pipeline_spark.session import scratch_dir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    base = scratch_dir("fmt_roundtrip")
    docs.write.mode("overwrite").json(base + "/jsonl")
    (
        docs.write.mode("overwrite")
        .option("header", True)
        .option("nullValue", "\\N")
        .csv(base + "/csv")
    )
    schema = "doc_id long, lang string, source string"
    j = spark.read.schema(schema).json(base + "/jsonl")
    c = (
        spark.read.option("header", True)
        .option("nullValue", "\\N")
        .schema(schema)
        .csv(base + "/csv")
    )
    out = j.withColumn("fmt", F.lit("jsonl")).unionByName(
        c.withColumn("fmt", F.lit("csv"))
    )
    return (
        out.groupBy("fmt", "lang")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
        .orderBy("fmt", "lang")
    )


FILE_FORMAT_ROUNDTRIP_SQL = """
SELECT fmt, lang, count(*) AS n_docs, min(doc_id) AS min_doc
FROM documents, (SELECT unnest(['csv', 'jsonl']) AS fmt)
GROUP BY fmt, lang ORDER BY fmt, lang
"""


def variant_json_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT semi-structured surface — ``parse_json`` →
    binary variant, path extraction with ``variant_get`` (typed),
    NULL-on-missing via ``try_variant_get``, and a struct→json→variant
    round-trip — the engine's answer to open-schema event payloads
    (the modern replacement for stringly get_json_object chains, with
    shredded columnar storage at rest).

    The oracle expresses the same semantics in DuckDB's JSON type
    (json_extract + casts); every output is a plain aggregate so the
    variant layer must be value-lossless for the hash to match.
    ``is_object`` pins schema_of_variant's kind detection without
    coupling to its engine-specific string format.

    Scale: narrow projection + one keyed agg; variant decode is
    JVM-side (no Python), and at rest VARIANT shreds to columns.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'int')").alias("k"),
            F.expr("try_variant_get(parse_json(props), '$.missing', 'int')").alias(
                "miss"
            ),
            F.expr("schema_of_variant(parse_json(props))")
            .startswith("OBJECT")
            .cast("int")
            .alias("is_obj"),
            F.expr(
                "variant_get(parse_json(to_json(named_struct("
                "'user_id', user_id, 'event_type', event_type))),"
                " '$.user_id', 'long')"
            ).alias("uid_rt"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.count("miss").alias("n_miss_nonnull"),
            F.min("is_obj").alias("all_objects"),
            F.sum("uid_rt").alias("sum_uid_roundtrip"),
        )
        .orderBy("event_type")
    )


VARIANT_JSON_CONFORMANCE_SQL = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract(props, 'k') AS INTEGER)) AS BIGINT) AS sum_k,
       count(CAST(json_extract(props, 'missing') AS INTEGER))
         AS n_miss_nonnull,
       CAST(min(CASE WHEN json_type(props::JSON) = 'OBJECT' THEN 1 ELSE 0 END)
            AS INTEGER) AS all_objects,
       CAST(sum(user_id) AS BIGINT) AS sum_uid_roundtrip
FROM events GROUP BY event_type ORDER BY event_type
"""



def bitwise_functions_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function surface — ``bit_and`` / ``bit_or`` / ``bit_xor``
    aggregates, ``bit_count``, and shift/mask scalars — the substrate
    the engine's bitmap-distinct rollup (`daily_users_bitmap_rollup`),
    bloom prefilter (`bloom_semijoin_reduction`) and Z-order interleave
    (`zorder_layout_stats`) are built from, pinned per event_type
    against the identical DuckDB expressions. ``xor_fold`` doubles as
    an order-insensitive content checksum (XOR is commutative — the
    idiom for shuffle-order-independent integrity checks).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") + 1).alias("u"),
        F.col("event_id").alias("e"),
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.bit_and("u").alias("and_all"),
            F.bit_or("u").alias("or_all"),
            F.bit_xor("u").alias("xor_fold"),
            F.sum(F.bit_count("u")).alias("sum_popcount"),
            F.bit_xor(
                F.shiftleft(F.col("u"), 7).bitwiseXOR(
                    F.shiftright(F.col("e"), 3)
                )
            ).alias("mix_checksum"),
        )
        .orderBy("event_type")
    )


BITWISE_FUNCTIONS_CONFORMANCE_SQL = """
SELECT event_type,
       bit_and(user_id + 1) AS and_all,
       bit_or(user_id + 1) AS or_all,
       bit_xor(user_id + 1) AS xor_fold,
       CAST(sum(bit_count(user_id + 1)) AS BIGINT) AS sum_popcount,
       bit_xor(xor((user_id + 1) << 7, event_id >> 3)) AS mix_checksum
FROM events GROUP BY event_type ORDER BY event_type
"""


def unpivot_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long UNPIVOT/melt — the inverse of `order_status_pivot`
    and the report-to-audit-rows reshaping the DQ profile uses via
    ``stack``; here the first-class ``DataFrame.unpivot`` (Spark 3.4+
    melt) is pinned against DuckDB's native ``UNPIVOT`` clause. The
    wide side is a per-type aggregate (4 metric columns), so the
    unpivot multiplies a bounded relation — at scale this reshaping
    always happens AFTER aggregation, never on the fact table.

    The metric columns are rounded BEFORE unpivoting on both engines
    (one shared rounding site — unpivot must not re-touch values).
    """
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.round(F.avg("value") + 1e-9, 4).alias("avg_v"),
        F.round(F.max("value") + 1e-9, 4).alias("max_v"),
        F.round(F.min("value") + 1e-9, 4).alias("min_v"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["avg_v", "max_v", "min_v", "n_rows"],
        variableColumnName="metric",
        valueColumnName="val",
    ).orderBy("event_type", "metric")


UNPIVOT_CONFORMANCE_SQL = """
WITH wide AS (
  SELECT event_type,
         round(avg(value) + 1e-9, 4) AS avg_v,
         round(max(value) + 1e-9, 4) AS max_v,
         round(min(value) + 1e-9, 4) AS min_v,
         CAST(count(*) AS DOUBLE) AS n_rows
  FROM events GROUP BY event_type
)
SELECT event_type, metric, val
FROM wide UNPIVOT (val FOR metric IN (avg_v, max_v, min_v, n_rows))
ORDER BY event_type, metric
"""


def cep_funnel_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style strict-contiguity pattern detection — the batch analog
    of Flink CEP's ``begin('view').next('click').next('purchase')
    .within(24 h)`` (the reference's native ecosystem exposes this
    as a first-class library; Spark expresses it as lag-chains over
    the per-key ordered stream, and SQL engines as MATCH_RECOGNIZE):
    emit every STRICTLY consecutive view→click→purchase triple per
    user completing within 24 hours (sized to the fixture's ~10 h
    median per-user inter-event gap; a tick-dense feed would use
    minutes). Strict contiguity (``next``,
    not ``followedBy``) is the semantics a lag-chain pins exactly: any
    intervening event of another type breaks the match — the relaxed
    form is `funnel_conversion`'s min-timestamp ordering, already
    covered.

    Oracle: identical LAG window chain in DuckDB; second-truncated
    epoch difference (the stream-join gap idiom) keeps the span
    integer-exact cross-engine.

    Scale: one keyed window shuffle; state is two lagged rows per
    partition stream — the same frame WindowExec streams through, no
    buffering beyond the frame.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    lagged = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.lag("ts", 2).over(w).alias("t1"),
        F.lag("event_id", 2).over(w).alias("start_id"),
    )
    hit = lagged.filter(
        (F.col("e1") == "view")
        & (F.col("e2") == "click")
        & (F.col("event_type") == "purchase")
        & (F.col("ts").cast("long") - F.col("t1").cast("long") <= 86400)
    )
    return hit.select(
        "user_id",
        F.col("start_id").alias("view_id"),
        F.col("event_id").alias("purchase_id"),
        (F.col("ts").cast("long") - F.col("t1").cast("long")).alias("span_s"),
    ).orderBy("user_id", "purchase_id")


CEP_FUNNEL_SEQUENCE_SQL = """
WITH lagged AS (
  SELECT user_id, event_id, event_type, ts,
         lag(event_type, 2) OVER w AS e1,
         lag(event_type, 1) OVER w AS e2,
         lag(ts, 2)         OVER w AS t1,
         lag(event_id, 2)   OVER w AS start_id
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       start_id AS view_id,
       event_id AS purchase_id,
       epoch(date_trunc('second', ts))::BIGINT
         - epoch(date_trunc('second', t1))::BIGINT AS span_s
FROM lagged
WHERE e1 = 'view' AND e2 = 'click' AND event_type = 'purchase'
  AND epoch(date_trunc('second', ts))::BIGINT
      - epoch(date_trunc('second', t1))::BIGINT <= 86400
ORDER BY user_id, purchase_id
"""


def timezone_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion surface — the reference's event times are
    exchange-local (Upbit = Asia/Seoul) while the engine stores UTC;
    this row pins the conversion semantics cross-engine:
    ``from_utc_timestamp`` / ``to_utc_timestamp`` against DuckDB's
    ICU ``timezone(tz, ·)`` pair (naive→tstz→naive composition, which
    is session-timezone-independent on both engines).

    Fixture timestamps sit in January, so the two DST edges are pinned
    with planted literals instead: the 2024-03-10 America/New_York
    spring-forward (07:30 UTC lands at 03:30 EDT — the 02:xx hour does
    not exist) and the 2024-11-03 fall-back (05:30 and 06:30 UTC both
    land at 01:30 local — once EDT, once EST). ``roundtrip_ok`` pins
    that to_utc∘from_utc is the identity for a DST-free zone (Seoul).

    Scale: narrow projection, codegen'd; timezone math never leaves
    the JVM.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 37 == 0)
    seoul = F.from_utc_timestamp("ts", "Asia/Seoul")
    ny = F.from_utc_timestamp("ts", "America/New_York")

    def _dst(lit_ts: str) -> Column:
        return F.from_utc_timestamp(
            F.lit(lit_ts).cast("timestamp"), "America/New_York"
        )

    return ev.select(
        "event_id",
        F.col("ts").alias("ts_utc"),
        seoul.alias("seoul_local"),
        ny.alias("ny_local"),
        F.to_date(seoul).alias("seoul_day"),
        F.hour(ny).alias("ny_hour"),
        (F.to_utc_timestamp(seoul, "Asia/Seoul") == F.col("ts"))
        .cast("int")
        .alias("roundtrip_ok"),
        _dst("2024-03-10 07:30:00").alias("dst_spring_fwd"),
        _dst("2024-11-03 05:30:00").alias("dst_fall_first"),
        _dst("2024-11-03 06:30:00").alias("dst_fall_second"),
    ).orderBy("event_id")


TIMEZONE_CONFORMANCE_SQL = """
SELECT event_id,
       ts AS ts_utc,
       timezone('Asia/Seoul', timezone('UTC', ts)) AS seoul_local,
       timezone('America/New_York', timezone('UTC', ts)) AS ny_local,
       CAST(timezone('Asia/Seoul', timezone('UTC', ts)) AS DATE) AS seoul_day,
       CAST(hour(timezone('America/New_York', timezone('UTC', ts))) AS INTEGER)
         AS ny_hour,
       CASE WHEN timezone('UTC', timezone('Asia/Seoul',
                 timezone('Asia/Seoul', timezone('UTC', ts)))) = ts
            THEN 1 ELSE 0 END AS roundtrip_ok,
       timezone('America/New_York',
                timezone('UTC', TIMESTAMP '2024-03-10 07:30:00'))
         AS dst_spring_fwd,
       timezone('America/New_York',
                timezone('UTC', TIMESTAMP '2024-11-03 05:30:00'))
         AS dst_fall_first,
       timezone('America/New_York',
                timezone('UTC', TIMESTAMP '2024-11-03 06:30:00'))
         AS dst_fall_second
FROM events WHERE event_id % 37 = 0 ORDER BY event_id
"""


def higher_order_functions_conformance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lambda higher-order-function surface — ``transform``, ``filter``,
    ``exists``, ``aggregate`` (fold), ``zip_with`` over arrays, and
    ``transform_keys`` / ``transform_values`` / ``map_filter`` /
    ``element_at`` over maps (built by ``from_json`` on the ``props``
    payload). HOF lambdas run inside codegen'd Catalyst expressions —
    JVM-side, no Python — which is why they're the prescribed
    alternative to a row-at-a-time UDF for nested-collection logic.

    The oracle never mirrors the HOFs themselves: every output is
    derivable from the base columns with plain SQL (``aggregate ∘
    transform(×2)`` ≡ ``2·sum``, ``zip_with(arr,arr,*)`` folded ≡
    ``Σv²``, map routes ≡ json_extract arithmetic), so a wrong lambda
    evaluation order, null rule, or overflow on the Spark side flips
    the hash. ``floor(value·100)`` is the usual IEEE-stable bridge to
    exact integers (DuckDB CAST(DOUBLE AS INT) rounds where Spark
    truncates — floor first makes the cast unambiguous on both).

    Scale: one scan → one keyed agg; arrays are per-user event lists
    (bounded ~67 rows/key on this fixture; collect_list is fine where
    group sizes are bounded — the repo's big-group paths never
    collect).
    """
    m = F.from_json("props", "map<string,int>")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("v"),
        F.element_at(m, "k").alias("k"),
        F.element_at(F.transform_keys(m, lambda kk, _: F.upper(kk)), "K").alias(
            "k_upper"
        ),
        (
            F.element_at(F.transform_values(m, lambda _, vv: vv * 3), "k")
        ).alias("k3"),
        F.size(F.map_filter(m, lambda _, vv: vv > 50)).alias("n_khigh_row"),
    )
    arr = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("v")).alias("arr"),
        F.sum("k").alias("sum_k"),
        F.sum("k_upper").alias("sum_k_upper"),
        F.sum("k3").alias("sum_k3"),
        F.sum("n_khigh_row").alias("n_khigh"),
    )
    fold = lambda a: F.aggregate(a, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return arr.select(
        "user_id",
        F.size("arr").alias("n"),
        fold(F.transform("arr", lambda x: x * 2)).alias("sum2"),
        F.size(F.filter("arr", lambda x: x > 5000)).alias("n_above"),
        F.exists("arr", lambda x: x > 9000).cast("int").alias("any_above"),
        fold(F.zip_with("arr", "arr", lambda a, b: a * b)).alias("sumsq"),
        "sum_k",
        "sum_k_upper",
        "sum_k3",
        "n_khigh",
    ).orderBy("user_id")


HIGHER_ORDER_FUNCTIONS_CONFORMANCE_SQL = """
WITH base AS (
  SELECT user_id,
         CAST(floor(value * 100) AS BIGINT) AS v,
         CAST(json_extract(props, 'k') AS INTEGER) AS k
  FROM events
)
SELECT user_id,
       count(*) AS n,
       CAST(2 * sum(v) AS BIGINT) AS sum2,
       count(*) FILTER (WHERE v > 5000) AS n_above,
       CAST(bool_or(v > 9000) AS INTEGER) AS any_above,
       CAST(sum(v * v) AS BIGINT) AS sumsq,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k) AS BIGINT) AS sum_k_upper,
       CAST(3 * sum(k) AS BIGINT) AS sum_k3,
       count(*) FILTER (WHERE k > 50) AS n_khigh
FROM base GROUP BY user_id ORDER BY user_id
"""


def custom_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-aggregate extension seam: a 10-90% trimmed mean per
    event type as an Arrow-batched GROUPED_AGG pandas UDF — the
    PySpark-native re-expression of Flink's user-defined
    ``AggregateFunction`` (SURVEY §2.6; every RE-USED reference
    aggregate maps to built-ins, this row pins the seam users extend
    when theirs doesn't). Trimmed mean is the honest demo: it is NOT
    a single built-in aggregate (needs per-group quantiles then a
    filtered mean — a window + re-agg two-pass in pure SQL), exactly
    when a custom aggregate earns its place.

    Scale shape: Arrow transfers each group's values once; grouped-agg
    pandas UDFs materialize ONE GROUP per batch in worker memory, so
    the pattern fits bounded-cardinality/bounded-size groups (5 event
    types here). For high-cardinality or giant groups the two-pass
    built-in form (per-group percentile broadcast back, then filtered
    avg — the value_mad_outliers shape) is the 100 TB route; this row
    is the API-surface contract, priced accordingly. The oracle runs
    the two-pass form in DuckDB (quantile_cont is pandas-'linear'
    type-7 interpolation — same definition), proving the UDF and the
    declarative rewrite agree to the hash.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG eval type: this module's
    # `from __future__ import annotations` stringifies type hints, so
    # pandas_udf's hint-based inference can't see (pd.Series -> float)
    def _trimmed(v):
        lo, hi = v.quantile(0.1), v.quantile(0.9)
        return float(v[(v >= lo) & (v <= hi)].mean())

    trimmed_mean = pandas_udf(_trimmed, "double", PandasUDFType.GROUPED_AGG)

    ev = load_table(spark, sf_dir, "events")
    # Spark disallows mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one agg() — the integer row count rides a second
    # tiny aggregate joined on the 5-key group column
    trimmed = ev.groupBy("event_type").agg(
        F.round(trimmed_mean(F.col("value")) + 1e-9, 4).alias("trimmed_mean_value")
    )
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    return trimmed.join(F.broadcast(counts), "event_type").orderBy("event_type")


CUSTOM_AGG_TRIMMED_MEAN_SQL = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.1) AS q10,
         quantile_cont(value, 0.9) AS q90
  FROM events GROUP BY event_type
)
SELECT e.event_type,
       round(avg(value) FILTER (WHERE value >= q10 AND value <= q90) + 1e-9, 4)
         AS trimmed_mean_value,
       count(*) AS n
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type
ORDER BY e.event_type
"""


def udtf_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-function extension seam: the context-window chunker
    re-implemented as a Spark 4 Python UDTF and LATERAL-joined over
    the corpus — the PySpark-native re-expression of Flink's
    user-defined ``TableFunction`` (SURVEY §2.6), completing the
    extension-seam pair with `custom_agg_trimmed_mean` (UDAF seam).
    The oracle is the SAME SQL that gates the declarative
    `docs_chunked` — so the per-row Python implementation, the
    JVM sequence→explode implementation, and DuckDB must all agree to
    the value hash (chunk math, slice bounds, md5, and the Python twin
    of normalize_text included).

    Priced honestly: a Python UDTF runs row-at-a-time in a Python
    worker — this row is the API-surface contract for logic that
    genuinely can't be expressed declaratively; `docs_chunked` (scan →
    project → generate, zero Python, zero shuffle) is the production
    path and the bench carries it, not this.
    """
    from pyspark.sql.functions import udtf

    from cdc_realtime_pipeline_spark.operators.curation import (
        _CHUNK_STRIDE,
        _CHUNK_TOKENS,
    )

    c, st = _CHUNK_TOKENS, _CHUNK_STRIDE

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens int, chunk_md5 string")
    class ChunkDoc:
        def eval(self, doc_id, text):
            import hashlib
            import re

            norm = (text or "").lower()
            norm = re.sub(r"[^a-z0-9\s]", " ", norm)
            norm = re.sub(r"\s+", " ", norm).strip()
            words = norm.split(" ")  # '' → [''] — mirrors F.split
            n = len(words)
            n_chunks = 1 + (max(n - c, 0) + (st - 1)) // st
            for idx in range(n_chunks):
                cw = words[idx * st : idx * st + c]
                yield (
                    doc_id,
                    idx,
                    len(cw),
                    hashlib.md5(" ".join(cw).encode()).hexdigest(),
                )

    spark.udtf.register("chunk_doc_udtf", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_md5 "
        "FROM _udtf_docs, LATERAL chunk_doc_udtf(doc_id, text) c"
    )


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the warehouse-classic customer scoring:
    Recency (days since last order, against the corpus max date),
    Frequency (order count), Monetary (total spend), each quintiled
    into a 1-5 score, reported as the 125-cell segment grid with
    population and average spend (the marketing-facing output; the
    per-customer table is its input relation).

    Determinism: every ntile orders with a c_custkey tiebreak —
    quintile boundaries on tied values are otherwise engine-dependent.
    Recency ranks DESCENDING on recency days (most recent buyers score
    5, matching F/M where bigger is better). Scale: one orders scan →
    per-customer agg (key shuffle), then three GLOBAL ntile windows —
    a deliberate total sort of the CUSTOMER-sized aggregate (dims are
    orders÷frequency smaller than the fact table; same conformance
    trade as value_equidepth_histogram, which documents it), never of
    the fact table; the 100 TB form replaces exact quintiles with
    approx_percentile boundary broadcasts. The global max date rides
    a broadcast 1-row crossJoin.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        # cent-exact: integer cents per order summed exactly — the
        # per-customer total cannot drift across partial-sum orders
        # (round-10 closing-gate flake); the dollars column derives
        # from the cents, deterministically, for the ntile ordering
        F.sum(F.round(F.col("o_totalprice") * 100))
        .cast("long")
        .alias("m_cents"),
    ).withColumn("monetary", F.round(F.col("m_cents") / 100, 2))
    maxd = orders.agg(F.max("o_orderdate").alias("max_date"))
    rfm = per_cust.crossJoin(F.broadcast(maxd)).withColumn(
        "recency_days", F.datediff("max_date", "last_order")
    )
    w_r = Window.orderBy(F.desc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.asc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.asc("monetary"), F.asc("o_custkey"))
    scored = (
        rfm.withColumn("r_score", F.ntile(5).over(w_r))
        .withColumn("f_score", F.ntile(5).over(w_f))
        .withColumn("m_score", F.ntile(5).over(w_m))
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            # the mean in INTEGER-CENT half-up arithmetic: at ~4e6
            # magnitude a double mean can land on an exact half-cent
            # where Spark's BigDecimal(shortest-string) rounding and
            # DuckDB's binary rounding disagree deterministically (and
            # partial-sum noise swamps the 1e-9 nudge) — integer
            # division (2·ΣC + n) div (2n) sidesteps floats entirely
            (
                F.expr("(2 * sum(m_cents) + count(*)) DIV (2 * count(*))")
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


CUSTOMER_RFM_SEGMENTS_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         count(*) AS frequency,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS m_cents,
         round(CAST(sum(round(o_totalprice * 100)) AS BIGINT) / 100, 2)
           AS monetary
  FROM orders GROUP BY o_custkey
),
maxd AS (SELECT max(o_orderdate) AS max_date FROM orders),
rfm AS (
  SELECT o_custkey, frequency, monetary, m_cents,
         datediff('day', last_order, max_date) AS recency_days
  FROM per_cust CROSS JOIN maxd
),
scored AS (
  SELECT *,
         ntile(5) OVER (ORDER BY recency_days DESC, o_custkey ASC) AS r_score,
         ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC) AS f_score,
         ntile(5) OVER (ORDER BY monetary ASC, o_custkey ASC) AS m_score
  FROM rfm
)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       ((2 * sum(m_cents) + count(*)) // (2 * count(*))) / 100.0
         AS avg_monetary
FROM scored GROUP BY r_score, f_score, m_score
ORDER BY r_score, f_score, m_score
"""


_COPURCHASE_TOP = 25


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: per-order DISTINCT parts — the basket relation
    both market-basket consumers (`copurchase_pairs_topk`,
    `market_basket_rules`) key every stage on (round 13, guide §5:
    the `neardup_candidates` discipline applied to baskets)."""
    from cdc_realtime_pipeline_spark.session import memo_persist

    return memo_persist(
        "basket_items",
        spark,
        sf_dir,
        lambda: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct(),
    )


def _basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: unordered same-order part pairs with their
    co-occurrence count c_ab — the shared candidate stage of the two
    basket queries (copurchase ranks it raw; market_basket_rules
    filters c_ab ≥ 2 and joins marginals). Built from the
    `basket_items` memo so the distinct pass is shared too."""
    from cdc_realtime_pipeline_spark.session import memo_persist

    def build() -> DataFrame:
        items = _basket_items(spark, sf_dir)
        a = items.select("l_orderkey", F.col("l_partkey").alias("p_a"))
        b = items.select("l_orderkey", F.col("l_partkey").alias("p_b"))
        return (
            a.join(b, "l_orderkey")
            .filter(F.col("p_a") < F.col("p_b"))
            .groupBy("p_a", "p_b")
            .agg(F.count("*").alias("c_ab"))
        )

    return memo_persist("basket_pairs", spark, sf_dir, build)


def copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top part pairs that ship on the
    same order (the co-occurrence statistic behind "bought together"
    recommenders and association-rule mining's support count). The
    self-join keys on l_orderkey with an id-ordering predicate
    (p_a < p_b) so each unordered pair counts once per order.

    Scale shape: per-order DISTINCT parts first (collapses line-level
    multiplicity BEFORE the pair join), then the self-equi-join on the
    order key — pair fan-out is Σ items_per_order², bounded by basket
    size (~4 here), never corpus²; the count aggregate is map-side
    combinable and top-K is TakeOrderedAndProject. Hot "milk-and-eggs"
    baskets at retail scale are the skew case — AQE skew-join handles
    the orderkey shuffle, and a distinct-parts cap per order is the
    documented guard for pathological baskets. The distinct-items and
    pair-count stages are session memos shared with
    ``market_basket_rules`` (round 13) — identical relations, built
    once per (session, fixture).
    """
    return (
        _basket_pair_counts(spark, sf_dir)
        .select("p_a", "p_b", F.col("c_ab").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "p_a", "p_b")
        .limit(_COPURCHASE_TOP)
    )


COPURCHASE_PAIRS_TOPK_SQL = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p_a, b.l_partkey AS p_b, count(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY p_a, p_b
ORDER BY n_orders DESC, p_a, p_b
LIMIT {_COPURCHASE_TOP}
"""


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user next-event transition matrix — the first-order Markov
    view of user journeys (the statistic behind path/Sankey analysis
    and "what do users do after X"). One ordered window pass per user
    produces (state, next_state) pairs; the aggregate emits counts and
    the row-normalized transition probability.

    Tie discipline: the per-user ordering key is (ts, event_id) —
    event_id breaks simultaneous-timestamp ties so both engines walk
    the identical sequence. One user-key window shuffle + a
    |types|²-row aggregate; probabilities divide two counts from the
    same aggregate (window sum over the tiny matrix), so no second
    pass over the data.
    """
    counts = _journey_counts(spark, sf_dir)
    row_tot = Window.partitionBy("from_type")
    return (
        counts.withColumn(
            "p",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(row_tot).cast("double")
                + 1e-9,
                4,
            ),
        )
        .orderBy("from_type", "to_type")
    )


def _journey_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session memo: (from_type, to_type, n) user-journey transition
    counts — the corpus-scale per-user lag window + |types|² aggregate
    that `event_transition_matrix`, `events_markov_stationary` and
    `events_entropy_rate` each re-ran privately (round 13, guide §5:
    the tfidf_weights discipline). Everything downstream of this memo
    operates on the ≤ |types|²-row relation."""
    from cdc_realtime_pipeline_spark.session import memo_persist

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events").select(
            "user_id", "event_type", "ts", "event_id"
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        steps = ev.withColumn(
            "next_type", F.lead("event_type").over(w)
        ).filter(F.col("next_type").isNotNull())
        return steps.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        ).agg(F.count("*").alias("n"))

    return memo_persist("journey_counts", spark, sf_dir, build)


def events_markov_next_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction evaluated OUT OF TIME — the train/test
    split `event_transition_matrix` never gets: transition counts fit
    on the first half of the clock, argmax prediction scored on
    second-half steps, per from-state accuracy against the
    majority-next baseline. This is the minimal sequence-model
    evaluation loop (fit → predict → temporal holdout) as one plan —
    if the Markov view carries signal, acc beats the baseline where
    transitions are genuinely state-dependent.

    Both halves come from the SAME user-ordered window pass (a step
    belongs to the half of its FIRST event); the fitted matrix and
    the argmax (modal-label struct-min, type-asc ties) are
    |types|²-bounded; the eval join is step-keyed on from_type
    against the broadcast 6-row prediction table.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    # microsecond epoch on BOTH engines (unix_micros / epoch_us) so
    # the train/test midpoint and the per-step comparison are computed
    # on identical values — unix_timestamp truncates to seconds while
    # the oracle's epoch() is fractional (ADVICE r10 flake class).
    mid = ev.agg(
        (
            (
                F.min(F.expr("unix_micros(ts)"))
                + F.max(F.expr("unix_micros(ts)"))
            )
            / 2.0
        ).alias("mid")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .crossJoin(F.broadcast(mid))
        .select(
            F.col("event_type").alias("from_type"),
            "next_type",
            (F.expr("unix_micros(ts)") > F.col("mid")).alias("is_test"),
        )
    )
    steps = tracked_persist(steps)
    pred = (
        steps.filter(~F.col("is_test"))
        .groupBy("from_type", "next_type")
        .agg(F.count("*").alias("n"))
        .groupBy("from_type")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("nn"), F.col("next_type"))
            )
            .getField("next_type")
            .alias("pred_type"),
            F.max("n").alias("n_modal"),
            F.sum("n").alias("n_train"),
        )
    )
    return (
        steps.filter(F.col("is_test"))
        .join(F.broadcast(pred), "from_type")
        .groupBy("from_type", "pred_type")
        .agg(
            F.max("n_train").alias("n_train"),
            F.count("*").alias("n_test"),
            F.count_if(F.col("next_type") == F.col("pred_type"))
            .cast("long")
            .alias("n_correct"),
            (
                F.round(
                    F.count_if(F.col("next_type") == F.col("pred_type"))
                    / F.count("*").cast("double")
                    + 1e-9,
                    4,
                )
                + 0.0
            ).alias("accuracy"),
        )
        .orderBy("from_type")
    )


EVENTS_MARKOV_NEXT_EVAL_SQL = """
WITH mid AS (
  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) / 2.0 AS mid FROM events
),
steps AS (
  SELECT from_type, next_type, sec > mid.mid AS is_test
  FROM (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type,
           epoch_us(ts) AS sec
    FROM events
  ) s CROSS JOIN mid
  WHERE next_type IS NOT NULL
),
counts AS (
  SELECT from_type, next_type, count(*) AS n
  FROM steps WHERE NOT is_test GROUP BY 1, 2
),
pred AS (
  SELECT from_type, next_type AS pred_type, n AS n_modal,
         sum(n) OVER (PARTITION BY from_type) AS n_train
  FROM counts
  QUALIFY row_number() OVER (PARTITION BY from_type
                             ORDER BY n DESC, next_type ASC) = 1
)
SELECT s.from_type, p.pred_type,
       CAST(max(p.n_train) AS BIGINT) AS n_train,
       count(*) AS n_test,
       CAST(count(CASE WHEN s.next_type = p.pred_type THEN 1 END) AS BIGINT)
         AS n_correct,
       round(count(CASE WHEN s.next_type = p.pred_type THEN 1 END)
             / CAST(count(*) AS DOUBLE) + 1e-9, 4) + 0.0 AS accuracy
FROM steps s JOIN pred p ON s.from_type = p.from_type
WHERE s.is_test
GROUP BY s.from_type, p.pred_type
ORDER BY s.from_type
"""


EVENT_TRANSITION_MATRIX_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) + 1e-9, 4) AS p
FROM counts
ORDER BY from_type, to_type
"""


def nan_inf_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE special-value semantics conformance: NaN, ±Infinity and
    NULL planted deterministically (event_id mod 5) through the
    aggregate surface. Pins the behaviors a numeric pipeline silently
    depends on, where engines COULD diverge but Spark and DuckDB
    agree: NaN sorts greatest (max → NaN even with +Inf present), NaN
    is absorbed by avg/sum, NaN compares equal to itself in
    grouping/distinct (one group, not one per row), -Inf sorts least,
    and the zero-divisor NULL contract: Spark 4 runs ANSI (plain ``/``
    RAISES on a zero divisor — ``try_divide`` is the NULL form) while
    the oracle writes the NULL-on-zero-divisor contract as an explicit
    ``CASE WHEN divisor = 0 THEN NULL`` (ADVICE r4: DuckDB ≤1.0 plain
    double ``/`` happens to yield NULL but ≥1.1 defaults
    ``ieee_floating_point_ops=true`` and returns Inf/NaN — the
    explicit CASE is version-proof where the bare ``/`` was not). The
    row thus pins try_divide ≡ guarded division — NULL, never Inf.
    The finite twin
    columns (max/avg over isnan/isinf-filtered values) are the
    recovery idiom the DQ layer prescribes after this row proves the
    special values' blast radius.
    """
    nan, inf = float("nan"), float("inf")
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    m = F.col("event_id") % 5
    v = (
        F.when(m == 0, F.lit(nan))
        .when(m == 1, F.lit(inf))
        .when(m == 2, F.lit(-inf))
        .when(m == 3, F.col("value"))
        .otherwise(F.lit(None).cast("double"))
    )
    planted = ev.withColumn("v", v).withColumn(
        "div0", F.try_divide(F.col("value"), (F.col("event_id") % 2).cast("double"))
    )
    finite = ~F.isnan("v") & (F.col("v") != inf) & (F.col("v") != -inf)
    return (
        planted.groupBy("event_type")
        .agg(
            F.count(F.when(F.isnan("v"), 1)).alias("n_nan"),
            F.count(F.when(F.col("v") == inf, 1)).alias("n_posinf"),
            F.count(F.when(F.col("v") == -inf, 1)).alias("n_neginf"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_null"),
            F.count_distinct("v").alias("n_distinct_v"),
            F.max("v").alias("max_v"),
            F.min("v").alias("min_v"),
            F.round(F.max(F.when(finite, F.col("v"))) + 1e-9, 4).alias("max_finite"),
            F.round(F.avg(F.when(finite, F.col("v"))) + 1e-9, 4).alias("avg_finite"),
            F.count(F.when(F.col("div0").isNull() & (F.col("event_id") % 2 == 0), 1)).alias(
                "n_div0_null"
            ),
        )
        .orderBy("event_type")
    )


NAN_INF_CONFORMANCE_SQL = """
WITH planted AS (
  SELECT event_type, event_id,
         CASE event_id % 5
           WHEN 0 THEN 'nan'::DOUBLE
           WHEN 1 THEN 'inf'::DOUBLE
           WHEN 2 THEN '-inf'::DOUBLE
           WHEN 3 THEN value
           ELSE NULL
         END AS v,
         CASE WHEN event_id % 2 = 0 THEN NULL
              ELSE value / CAST(event_id % 2 AS DOUBLE) END AS div0
  FROM events
)
SELECT event_type,
       count(CASE WHEN isnan(v) THEN 1 END) AS n_nan,
       count(CASE WHEN v = 'inf'::DOUBLE THEN 1 END) AS n_posinf,
       count(CASE WHEN v = '-inf'::DOUBLE THEN 1 END) AS n_neginf,
       count(CASE WHEN v IS NULL THEN 1 END) AS n_null,
       count(DISTINCT v) AS n_distinct_v,
       max(v) AS max_v,
       min(v) AS min_v,
       round(max(CASE WHEN NOT isnan(v) AND NOT isinf(v) THEN v END) + 1e-9, 4)
         AS max_finite,
       round(avg(CASE WHEN NOT isnan(v) AND NOT isinf(v) THEN v END) + 1e-9, 4)
         AS avg_finite,
       count(CASE WHEN div0 IS NULL AND event_id % 2 = 0 THEN 1 END) AS n_div0_null
FROM planted
GROUP BY event_type
ORDER BY event_type
"""


def _udtf_chunk_oracle() -> str:
    from cdc_realtime_pipeline_spark.operators.curation import DOCS_CHUNKED_SQL

    return DOCS_CHUNKED_SQL


_UDTF_CHUNK_DOCUMENTS_SQL = _udtf_chunk_oracle()


def grouping_sets_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS + ``grouping_id`` — the third member of
    the multi-granularity family next to `events_cube` (full lattice)
    and `events_rollup_multi_granularity` (prefix hierarchy): an
    ARBITRARY, non-lattice set list ((type, month), (type), (month),
    ()) that neither cube nor rollup can express, pinned against
    DuckDB's native GROUPING SETS with the same grouping-bit layout.

    Uses Spark 4's first-class ``DataFrame.groupingSets`` (one Expand
    node — each input row fans to exactly 4 set-rows, then ONE hash
    aggregate; at scale this beats 4 separate aggregates because the
    fact is scanned once and partial aggregation absorbs the fan-out
    map-side). Sums are rounded with the shared +1e-9 nudge; grouping
    keys are null-filled to sentinels AFTER grouping so the sentinel
    can never collide with a real key.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("month", "ts").alias("month"), "value"
    )
    g = ev.groupingSets(
        [["event_type", "month"], ["event_type"], ["month"], []],
        "event_type",
        "month",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count("*").alias("n"),
        F.round(F.sum("value") + 1e-9, 4).alias("sum_value"),
    )
    return g.select(
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("month").cast("date"), F.lit("1900-01-01").cast("date")).alias(
            "month"
        ),
        "gid",
        "n",
        "sum_value",
    ).orderBy("gid", "event_type", "month")


GROUPING_SETS_CONFORMANCE_SQL = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(month AS DATE), DATE '1900-01-01') AS month,
       grouping_id(event_type, month) AS gid,
       count(*) AS n,
       round(sum(value) + 1e-9, 4) AS sum_value
FROM (SELECT event_type, date_trunc('month', ts) AS month, value FROM events) e
GROUP BY GROUPING SETS ((event_type, month), (event_type), (month), ())
ORDER BY gid, event_type, month
"""


def group_by_all_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` / ``ORDER BY ALL`` dialect sugar, pinned
    cross-engine (Spark 3.4+ / DuckDB): every non-aggregate select
    item becomes a grouping key, and ORDER BY ALL orders by the full
    select list left-to-right. Worth a conformance row because the
    sugar's EXPANSION is engine-defined — a divergence in which items
    are "non-aggregate" (e.g. a CASE wrapping an aggregate) silently
    changes the grouping — and because migrating users write it
    constantly. The grouped expression set mixes a plain column, a
    derived CASE, and a time bucket; identical statement text runs on
    both engines (the one dialect seam, epoch-second extraction, is
    isolated in the inner projection).

    Scale: one hash aggregate over a bounded (type × band × hour-mod)
    key space; ORDER BY ALL on the aggregated relation only.
    """
    load_table(spark, sf_dir, "events").createOrReplaceTempView("_gba_events")
    return spark.sql(
        """
        SELECT event_type,
               CASE WHEN value >= 500 THEN 'hi' ELSE 'lo' END AS band,
               CAST(floor(unix_timestamp(ts) / 3600) % 24 AS BIGINT) AS hour_slot,
               count(*) AS n,
               round(sum(value) + 1e-9, 4) AS sum_value
        FROM _gba_events
        GROUP BY ALL
        ORDER BY ALL
        """
    )


GROUP_BY_ALL_CONFORMANCE_SQL = """
SELECT event_type,
       CASE WHEN value >= 500 THEN 'hi' ELSE 'lo' END AS band,
       CAST(floor(epoch(ts) / 3600) % 24 AS BIGINT) AS hour_slot,
       count(*) AS n,
       round(sum(value) + 1e-9, 4) AS sum_value
FROM events
GROUP BY ALL
ORDER BY ALL
"""


def interval_datetime_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic surface — INTERVAL addition, calendar
    truncation (week/quarter), ``last_day``, day-diff vs a fixed
    anchor, and end-of-month flags — the primitives every retention /
    TTL / partition-pruning expression in the engine builds from
    (maintenance TTL, SCD2 validity, cohort offsets), pinned against
    DuckDB's equivalents per derived bucket.

    Everything is integer/date-valued (no float surface at all); the
    single aggregate keys on a bounded (type × quarter) space. The
    week bucket uses Monday-start truncation on both engines; Spark's
    ``date_trunc`` returns TIMESTAMP and DuckDB's DATE, normalized by
    an explicit DATE cast on both sides.
    """
    ev = load_table(spark, sf_dir, "events")
    enriched = ev.select(
        "event_type",
        F.date_trunc("quarter", "ts").cast("date").alias("quarter"),
        F.date_trunc("week", "ts").cast("date").alias("week_start"),
        F.last_day(F.col("ts").cast("date")).alias("month_end"),
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")).alias(
            "days_since_anchor"
        ),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES")).cast("date").alias("shifted_day"),
    )
    return (
        enriched.groupBy("event_type", "quarter")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("week_start").alias("n_weeks"),
            F.max("days_since_anchor").alias("max_day_offset"),
            F.min("days_since_anchor").alias("min_day_offset"),
            F.count(
                F.when(F.col("shifted_day") > F.col("month_end"), F.lit(1))
            ).alias("n_spill_next_month"),
        )
        .orderBy("event_type", "quarter")
    )


INTERVAL_DATETIME_CONFORMANCE_SQL = """
SELECT event_type,
       CAST(date_trunc('quarter', ts) AS DATE) AS quarter,
       count(*) AS n,
       count(DISTINCT CAST(date_trunc('week', ts) AS DATE)) AS n_weeks,
       max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS max_day_offset,
       min(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) AS min_day_offset,
       count(CASE WHEN CAST(ts + INTERVAL 90 MINUTE AS DATE)
                       > last_day(CAST(ts AS DATE)) THEN 1 END) AS n_spill_next_month
FROM events
GROUP BY event_type, CAST(date_trunc('quarter', ts) AS DATE)
ORDER BY event_type, quarter
"""


def map_functions_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface — ``map_from_arrays`` /
    ``map_filter`` / ``transform_values`` / ``map_concat`` /
    ``map_keys`` — exercised end-to-end and then FLATTENED to sorted
    key=value strings for the cross-engine hash (DuckDB's MAP is a
    different physical type with different function names, so the
    oracle derives the identical flattened strings from first
    principles — the conformance target is the *values*, not the
    intermediate container).

    Per event: build {type: n_chars_of_props, day: day-of-month},
    drop entries with odd values via ``map_filter``, double the
    survivors via ``transform_values``, merge a constant tag map via
    ``map_concat``, then emit sorted "k=v" joined entries. The map
    ops run row-local inside whole-stage codegen (no shuffle until
    the final bounded groupBy over flattened strings).
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.select(
        "event_type",
        F.map_from_arrays(
            F.array(F.col("event_type"), F.lit("day")),
            F.array(
                F.length("props").cast("long"), F.dayofmonth("ts").cast("long")
            ),
        ).alias("m0"),
    ).select(
        "event_type",
        F.map_concat(
            F.transform_values(
                F.map_filter(F.col("m0"), lambda _k, v: v % 2 == 0),
                lambda _k, v: v * 2,
            ),
            F.create_map(F.lit("src"), F.lit(1).cast("long")),
        ).alias("m1"),
    )
    flat = m.select(
        "event_type",
        F.array_join(
            F.sort_array(
                F.transform(
                    F.map_entries("m1"),
                    lambda e: F.concat_ws("=", e["key"], e["value"].cast("string")),
                )
            ),
            ",",
        ).alias("entries"),
    )
    return (
        flat.groupBy("event_type", "entries")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "entries")
    )


MAP_FUNCTIONS_CONFORMANCE_SQL = """
WITH base AS (
  SELECT event_type,
         length(props) AS props_len,
         day(CAST(ts AS DATE)) AS day_num
  FROM events
), flattened AS (
  SELECT event_type,
         array_to_string(
           list_sort(
             list_concat(
               list_concat(
                 CASE WHEN props_len % 2 = 0
                      THEN [event_type || '=' || CAST(props_len * 2 AS VARCHAR)]
                      ELSE [] END,
                 CASE WHEN day_num % 2 = 0
                      THEN ['day=' || CAST(day_num * 2 AS VARCHAR)]
                      ELSE [] END
               ),
               ['src=1']
             )
           ), ',') AS entries
  FROM base
)
SELECT event_type, entries, count(*) AS n
FROM flattened
GROUP BY event_type, entries
ORDER BY event_type, entries
"""


def recursive_cte_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:1999 ``WITH RECURSIVE`` surface — new engine capability in
    Spark 4.0 (SPARK-24497), exercised as a hierarchy walk: the
    distinct ``user_id`` space forms an implicit binary-heap forest
    (``parent = uid DIV 2``), anchors at ``uid <= 1``, and the
    recursion labels every node with its depth; the output is the
    per-depth subtree census. Integer-only outputs — zero float
    surface, so no rounding/tie discipline needed.

    Scale: Spark executes the recursion as an iterative union loop —
    one join per level against the distinct-key relation, and depth is
    bounded by ``log2(max uid)`` (~27 levels at 100M users), so the
    loop count is logarithmic in corpus size, each step a
    broadcast-able join on the previous level's frontier (frontier
    size ≤ key count). The same shape computes org charts, thread
    trees, and BOM explosions — the one query class pre-4.0 Spark
    had to driver-loop.
    """
    # materialize the distinct-key relation ONCE before the loop
    # (round 13, guide §2.4): the recursion's step joins the distinct
    # uids at EVERY level, and Spark's UnionLoop re-evaluates the
    # anchor/step subtrees per level — without this, each of the
    # ~log2(max uid) levels re-scans events parquet and re-runs the
    # distinct aggregate. localCheckpoint truncates that subtree to a
    # materialized key-sized relation (values unchanged by construction)
    users = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("uid"))
        .distinct()
        .localCheckpoint()
    )
    users.createOrReplaceTempView("_rcte_users")
    return spark.sql(
        """
        WITH RECURSIVE r AS (
          SELECT uid, 0 AS depth
          FROM _rcte_users
          WHERE uid <= 1
          UNION ALL
          SELECT u.uid, r.depth + 1
          FROM _rcte_users u
          JOIN r ON u.uid DIV 2 = r.uid AND u.uid > 1
        )
        SELECT depth, count(*) AS n_nodes, sum(uid) AS sum_id,
               min(uid) AS min_id, max(uid) AS max_id
        FROM r GROUP BY depth ORDER BY depth
        """
    )


RECURSIVE_CTE_CONFORMANCE_SQL = """
WITH RECURSIVE u AS (SELECT DISTINCT user_id AS uid FROM events),
r AS (
  SELECT uid, 0 AS depth FROM u WHERE uid <= 1
  UNION ALL
  SELECT u.uid, r.depth + 1 FROM u JOIN r ON u.uid // 2 = r.uid AND u.uid > 1
)
SELECT depth, count(*) AS n_nodes, CAST(sum(uid) AS BIGINT) AS sum_id,
       min(uid) AS min_id, max(uid) AS max_id
FROM r GROUP BY depth ORDER BY depth
"""


def regr_aggregates_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate surface (``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` / ``regr_count``, Spark 3.4+)
    plus arg-extrema (``max_by`` / ``min_by``) per event_type, with
    ``value`` regressed on the ``props.k`` JSON field. Both engines
    skip rows where either regressand is NULL (``regr_count`` pins the
    pair count so a NULL-handling divergence flips an integer, not
    just a rounded double). ``max_by``/``min_by`` order on the UNIQUE
    ``event_id`` so arg-extrema are deterministic on both engines —
    ordering on a non-unique column is engine-arbitrary under ties
    (same reason ``mode()`` is excluded: tie resolution is
    implementation-defined in both dialects).

    Scale: single hash aggregate over 5 keys; regr_* are algebraic
    (sum/sum-of-products moments), so partial aggregation pushes the
    whole computation map-side — the shuffle carries 5 × n_partitions
    moment tuples regardless of corpus size.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("double")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            (F.round(F.regr_slope("value", "k"), 6) + 0.0).alias("slope"),
            (F.round(F.regr_intercept("value", "k"), 6) + 0.0).alias("icept"),
            (F.round(F.regr_r2("value", "k"), 6) + 0.0).alias("r2"),
            F.regr_count("value", "k").alias("n_pairs"),
            F.max_by("user_id", "event_id").alias("last_user"),
            F.min_by("user_id", "event_id").alias("first_user"),
        )
        .orderBy("event_type")
    )


REGR_AGGREGATES_CONFORMANCE_SQL = """
SELECT event_type,
       round(regr_slope(value, k), 6) + 0.0 AS slope,
       round(regr_intercept(value, k), 6) + 0.0 AS icept,
       round(regr_r2(value, k), 6) + 0.0 AS r2,
       regr_count(value, k) AS n_pairs,
       max_by(user_id, event_id) AS last_user,
       min_by(user_id, event_id) AS first_user
FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS DOUBLE) AS k
      FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def pareto_frontier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of customers on two maximize
    objectives — total revenue and order count: keep a customer iff no
    other customer is ≥ on both and > on at least one (Börzsönyi 2001
    "The Skyline Operator" semantics; duplicate objective pairs do not
    dominate each other, so ties all survive).

    Spark-first shape: NOT the textbook quadratic self-join — the 2-D
    skyline reduces to a sort sweep: per-revenue-group max count, a
    running max of count over strictly-higher revenue (window with a
    ``1 PRECEDING`` rows frame over the per-group relation), then a
    point survives iff its count beats every higher-revenue count AND
    is its own revenue-group's max. O(n log n) — one aggregate + one
    window over the GROUP-sized relation + one broadcast join back,
    vs the oracle's intentionally-quadratic NOT EXISTS twin (safe at
    oracle scale, C² on the customer aggregate). At 100 TB the sweep
    runs on the customer-sized aggregate, not the raw fact table, and
    the per-rev-group relation it windows over is ≤ customer-count
    rows; a single-partition global window on that reduced relation is
    the standard frontier trade (same class as the RFM global ntile,
    documented there).
    """
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("rev"),
            F.count("*").alias("cnt"),
        )
    )
    per_rev = agg.groupBy("rev").agg(F.max("cnt").alias("grp_max"))
    w = Window.orderBy(F.col("rev").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    runm = per_rev.withColumn("hmax", F.max("grp_max").over(w))
    return (
        agg.join(F.broadcast(runm), "rev")
        .filter(
            (F.col("hmax").isNull() | (F.col("hmax") < F.col("cnt")))
            & (F.col("grp_max") == F.col("cnt"))
        )
        .select("custkey", "rev", "cnt")
        .orderBy(F.col("rev").desc())
    )


PARETO_FRONTIER_CUSTOMERS_SQL = """
WITH agg AS (
  SELECT o_custkey AS custkey, round(sum(o_totalprice), 2) AS rev,
         count(*) AS cnt
  FROM orders GROUP BY o_custkey
)
SELECT custkey, rev, cnt FROM agg a
WHERE NOT EXISTS (
  SELECT 1 FROM agg b
  WHERE b.rev >= a.rev AND b.cnt >= a.cnt
    AND (b.rev > a.rev OR b.cnt > a.cnt)
)
ORDER BY rev DESC
"""


def window_funnel_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse ``windowFunnel(24h)(ts, view, click, purchase)``
    semantics — the RELAXED-order companion to the strict-contiguity
    CEP lag-chain: from every 'view' anchor, the chain advances to the
    EARLIEST later 'click', then the earliest later 'purchase', all
    within 24 h of the anchor; intervening events of other types do
    not break the chain. Output: users bucketed by their maximum
    reached depth (the windowFunnel return value). The reference's
    analytics store is ClickHouse, where this is the standard funnel
    primitive (`funnel_conversion` = unordered lifetime variant,
    `cep_funnel_sequence` = strict-next variant — the three canonical
    funnel semantics).

    NOT a per-user self-join (quadratic in a power user's events):
    two passes over ONE per-user window sort — (1) each row's
    min-future-purchase, (2) each row's first-future-click carrying
    that purchase value as a struct min (struct orders by click time
    first, so the min IS the earliest click with its own
    min-later-purchase) — then the depth CASE is a scalar expression
    on 'view' rows. Event time is composited with event_id
    (``t·10⁷ + id``, integer arithmetic throughout — the composite
    exceeds 2⁵³, so division back to seconds must be integer ``div``)
    making the order total and strict '>' comparisons tie-free on
    both engines; the oracle is the intentionally-quadratic
    correlated-subquery transcription of the ClickHouse definition.

    Scale: one Exchange+Sort per user key reused by both window
    passes; state per row is two scalars — linear in events, the
    shape windowFunnel itself has inside ClickHouse.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.col("ts").cast("long").alias("t"),
        (F.col("ts").cast("long") * 10000000 + F.col("event_id")).alias("tt"),
    )
    wfut = Window.partitionBy("user_id").orderBy("tt").rowsBetween(
        1, Window.unboundedFollowing
    )
    base = ev.withColumn(
        "mp_after",
        F.min(F.when(F.col("event_type") == "purchase", F.col("tt"))).over(wfut),
    )
    first_click = F.min(
        F.when(
            F.col("event_type") == "click",
            F.struct(F.col("tt").alias("ct"), F.col("mp_after").alias("pm")),
        )
    ).over(wfut)
    anchors = base.withColumn("fclick", first_click).filter(
        F.col("event_type") == "view"
    )
    in_window = lambda x: F.expr(f"{x} div 10000000") - F.col("t") <= 86400
    depth = (
        F.when(F.col("fclick.ct").isNull() | ~in_window("fclick.ct"), F.lit(1))
        .when(F.col("fclick.pm").isNull() | ~in_window("fclick.pm"), F.lit(2))
        .otherwise(F.lit(3))
    )
    return (
        anchors.select("user_id", depth.alias("depth"))
        .groupBy("user_id")
        .agg(F.max("depth").alias("max_depth"))
        .groupBy("max_depth")
        .agg(F.count("*").alias("n_users"), F.sum("user_id").alias("user_id_chk"))
        .orderBy("max_depth")
    )


WINDOW_FUNNEL_DEPTH_SQL = """
WITH e AS (
  -- date_trunc BEFORE the cast (the repo-wide idiom): epoch() is
  -- fractional and ::BIGINT ROUNDS in DuckDB while Spark's
  -- cast(ts as long) FLOORS — 5122 sf0.01 events sit on the >=.5s
  -- boundary, so the bare cast diverged on t/tt and matched only by
  -- fixture luck (round-11 sweep of the ADVICE r10 flake class)
  SELECT user_id, event_type,
         epoch(date_trunc('second', ts))::BIGINT AS t,
         epoch(date_trunc('second', ts))::BIGINT * 10000000 + event_id AS tt
  FROM events
),
anchors AS (
  SELECT v.user_id, v.t AS t1,
    (SELECT min(c.tt) FROM e c
      WHERE c.user_id = v.user_id AND c.event_type = 'click'
        AND c.tt > v.tt AND (c.tt // 10000000) - v.t <= 86400) AS t2tt
  FROM e v WHERE v.event_type = 'view'
),
depth3 AS (
  SELECT a.user_id,
    CASE WHEN a.t2tt IS NULL THEN 1
         WHEN (SELECT min(p.tt) FROM e p
                WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
                  AND p.tt > a.t2tt
                  AND (p.tt // 10000000) - a.t1 <= 86400) IS NULL THEN 2
         ELSE 3 END AS depth
  FROM anchors a
),
per_user AS (SELECT user_id, max(depth) AS max_depth FROM depth3 GROUP BY user_id)
SELECT max_depth, count(*) AS n_users, CAST(sum(user_id) AS BIGINT) AS user_id_chk
FROM per_user GROUP BY max_depth ORDER BY max_depth
"""


# --------------------------------------------------------------------------
# Bucketed co-located join: the shuffle-free join the 100 TB plan wants
# --------------------------------------------------------------------------

_BKT_N = 8


def bucketed_join_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-revenue rollup computed over BUCKETED tables: orders and
    lineitem written once via ``bucketBy({N}, orderkey).sortBy``, then
    joined bucket-to-bucket — the physical design that removes the
    join shuffle entirely. On a 1000-executor cluster this is the
    difference between re-shuffling 100 TB of lineitem on every join
    and reading pre-co-located buckets: both scans report the same
    hash partitioning, so the sort-merge join starts with ZERO
    Exchange on either side (the only shuffle left in the plan is the
    final 5-key priority aggregate — test_plans pins exactly that).

    The ``merge`` hint pins the bucketed SMJ path even where AQE
    would broadcast the small side at test scale — at production
    scale neither side broadcasts, and the bucketed plan is the one
    under test. Tables are written once per (session, SF) and reused;
    results are oracle-gated against the raw parquet, proving the
    bucketed layout is a pure physical change.
    """
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t_orders = f"sg_bkt_orders_{tag}"
    t_lineitem = f"sg_bkt_lineitem_{tag}"

    def _clear_stale(table: str) -> None:
        # the in-memory catalog dies with the session but the managed
        # location survives — a stale dir from a previous session
        # makes saveAsTable refuse (LOCATION_ALREADY_EXISTS)
        if spark.catalog.tableExists(table):
            return
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, table), ignore_errors=True)

    if not spark.catalog.tableExists(t_orders):
        _clear_stale(t_orders)
        (
            # round 13 (guide §2.3 project-before-write / §6): the
            # rollup reads only (o_orderkey, o_orderpriority), so the
            # bucketed table stores only those — same bucketed-join
            # plan, ~1/5 the write+scan bytes
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderpriority")
            .write.bucketBy(_BKT_N, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(t_orders)
        )
    if not spark.catalog.tableExists(t_lineitem):
        _clear_stale(t_lineitem)
        (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(_BKT_N, "l_orderkey")
            .sortBy("l_orderkey")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(t_lineitem)
        )
    li = spark.table(t_lineitem).hint("merge")
    orders = spark.table(t_orders)
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count_distinct("o_orderkey").cast("long").alias("n_orders"),
            F.count("*").cast("long").alias("n_items"),
            F.expr(
                "round(sum(l_extendedprice * (1 - l_discount)) + 1e-9, 2)"
                " + 0.0"
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


bucketed_join_colocated.__doc__ = bucketed_join_colocated.__doc__.format(
    N=_BKT_N
)

BUCKETED_JOIN_COLOCATED_SQL = """
SELECT o.o_orderpriority,
       CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
       count(*) AS n_items,
       round(sum(l.l_extendedprice * (1 - l.l_discount)) + 1e-9, 2) + 0.0
         AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
"""


# --------------------------------------------------------------------------
# Dynamic partition pruning: the scan that never reads filtered-out days
# --------------------------------------------------------------------------

_DPP_WRITTEN: set = set()


def dynamic_partition_pruning_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join where the dim-side filter prunes the FACT
    scan's partitions at runtime — Spark's dynamic partition pruning
    (DPP), the mechanism that turns "join 100 TB of day-partitioned
    events to a filtered calendar" into "read only the qualifying
    days". The fact table is written once per (session, SF)
    partitioned by day; the calendar dim carries a Monday flag
    (defined as datediff from 2024-01-01, a Monday — weekday
    NUMBERING differs across engines, date arithmetic doesn't), and
    the join's only filter lives on the DIM side, so static pruning
    cannot help: the scan must receive the qualifying day list from
    the dim at runtime. test_plans pins `dynamicpruning` inside the
    fact scan's PartitionFilters.

    Static counterpart of the CDC TTL/backfill layout work
    (maintenance.py writes the same month-partitioned shape); the
    oracle recomputes from the raw parquet with the same date
    arithmetic, proving the partitioned rewrite is physically
    transparent.
    """
    from cdc_realtime_pipeline_spark.session import scratch_dir

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    base = scratch_dir("dpp") + "/" + tag
    ev = load_table(spark, sf_dir, "events")
    if tag not in _DPP_WRITTEN:
        (
            # cluster by the partition column before the partitioned
            # write (round 13, guide §6 small-files): without it every
            # write task emits a file into every day directory
            # (tasks × days files); clustered, each day gets its own
            # file(s) — fewer files to commit, list and DPP-scan
            ev.withColumn("day", F.to_date("ts"))
            .repartition("day")
            .write.partitionBy("day")
            .mode("overwrite")
            .parquet(base + "/fact")
        )
        (
            ev.select(F.to_date("ts").alias("day"))
            .distinct()
            .withColumn(
                "is_monday",
                (F.datediff("day", F.lit("2024-01-01")) % 7 == 0).cast("int"),
            )
            .write.mode("overwrite")
            .parquet(base + "/dim")
        )
        _DPP_WRITTEN.add(tag)
    fact = spark.read.parquet(base + "/fact")
    dim = spark.read.parquet(base + "/dim").filter(F.col("is_monday") == 1)
    return (
        fact.join(dim, "day")
        .groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.expr("round(sum(value) + 1e-9, 4) + 0.0").alias("day_value"),
        )
        .orderBy("day")
    )


DYNAMIC_PARTITION_PRUNING_JOIN_SQL = """
SELECT CAST(ts AS DATE) AS day,
       count(*) AS n_events,
       round(sum(value) + 1e-9, 4) + 0.0 AS day_value
FROM events
WHERE (CAST(ts AS DATE) - DATE '2024-01-01') % 7 = 0
GROUP BY day ORDER BY day
"""


# --------------------------------------------------------------------------
# Stationary distribution of the user-journey Markov chain
# --------------------------------------------------------------------------

_MARKOV_ITERS = 12


def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order user-journey Markov
    chain — the long-run "where do users spend their time?" vector
    that event_transition_matrix's one-step view doesn't give (a state
    can be a rare entry point yet dominate in steady state through
    self-loops). π = lim π·Pⁿ by {I} unrolled power steps from the
    uniform start.

    The ONE corpus-scale stage is the same per-user lag window the
    transition matrix uses; everything after operates on the
    |types|²-row probability relation — each power step is a tiny
    join + keyed sum, unrolled declaratively (the pagerank discipline,
    minus the driver loop: the state space is fixed, so the iteration
    count is a constant, not data-dependent). π is rounded 8dp each
    step on both engines so float drift cannot compound.
    """
    counts = _journey_counts(spark, sf_dir)  # session memo (round 13)
    row_tot = Window.partitionBy("from_type")
    pmat = counts.select(
        "from_type",
        "to_type",
        (F.col("n").cast("double") / F.sum("n").over(row_tot)).alias("p"),
    ).localCheckpoint()
    k = pmat.select("from_type").distinct().count()
    pi = pmat.select("from_type").distinct().select(
        F.col("from_type").alias("state"), F.lit(1.0 / k).alias("pi")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            pmat.join(pi, pmat.from_type == pi.state)
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.round(F.sum(F.col("p") * F.col("pi")) + 1e-12, 8).alias("pi"))
        )
    return pi.select(
        F.col("state").alias("event_type"),
        F.expr("round(pi + 1e-9, 6) + 0.0").alias("stationary_p"),
    ).orderBy("event_type")


events_markov_stationary.__doc__ = events_markov_stationary.__doc__.format(
    I=_MARKOV_ITERS
)


def _markov_step_sql(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT m.to_type AS state,
         round(sum(m.p * {prev}.pi) + 1e-12, 8) AS pi
  FROM pmat m JOIN {prev} ON m.from_type = {prev}.state
  GROUP BY m.to_type
)"""


EVENTS_MARKOV_STATIONARY_SQL = (
    """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
pmat AS MATERIALIZED (
  SELECT from_type, to_type,
         CAST(n AS DOUBLE)
           / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
p0 AS (
  SELECT from_type AS state,
         1.0 / (SELECT CAST(count(DISTINCT from_type) AS DOUBLE) FROM pmat)
           AS pi
  FROM (SELECT DISTINCT from_type FROM pmat)
),"""
    + ",".join(
        _markov_step_sql(f"p{i}", f"p{i + 1}") for i in range(_MARKOV_ITERS)
    )
    + f"""
SELECT state AS event_type,
       round(pi + 1e-9, 6) + 0.0 AS stationary_p
FROM p{_MARKOV_ITERS} ORDER BY event_type
"""
)


def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain — the
    information-theoretic "how predictable is the next event?" scalar
    that closes the chain family (transition matrix = the dynamics,
    stationary π = the long-run occupancy, H = −Σ_i π_i Σ_j P_ij
    log₂P_ij = the bits/step those two jointly imply; `events_markov_
    next_eval`'s accuracy is the operational face of the same
    quantity — low H is exactly when argmax prediction can work).
    Per state: π, the conditional next-step entropy H_i, and the
    π-weighted contribution; the chain's rate rides as a constant
    column.

    Same construction discipline as `events_markov_stationary` (whose
    12 unrolled power steps this re-derives verbatim): one corpus lag
    window, then everything on the |types|²-row relation; per-cell
    p·log₂p terms rounded 8dp before their bounded sums.
    """
    counts = _journey_counts(spark, sf_dir)  # session memo (round 13)
    row_tot = Window.partitionBy("from_type")
    pmat = counts.select(
        "from_type",
        "to_type",
        (F.col("n").cast("double") / F.sum("n").over(row_tot)).alias("p"),
    ).localCheckpoint()
    k = pmat.select("from_type").distinct().count()
    pi = pmat.select("from_type").distinct().select(
        F.col("from_type").alias("state"), F.lit(1.0 / k).alias("pi")
    )
    for _ in range(_MARKOV_ITERS):
        pi = (
            pmat.join(pi, pmat.from_type == pi.state)
            .groupBy(F.col("to_type").alias("state"))
            .agg(F.round(F.sum(F.col("p") * F.col("pi")) + 1e-12, 8).alias("pi"))
        )
    hcond = pmat.groupBy(F.col("from_type").alias("state")).agg(
        F.expr(
            "round(-sum(round(p * log2(p), 8)) + 1e-9, 6) + 0.0"
        ).alias("h_state")
    )
    per = (
        pi.join(hcond, "state")
        .select(
            F.col("state").alias("event_type"),
            F.expr("round(pi + 1e-9, 6) + 0.0").alias("stationary_p"),
            "h_state",
            F.expr("round(pi * h_state + 1e-9, 8) + 0.0").alias(
                "contribution"
            ),
        )
    )
    rate = per.agg(
        F.expr("round(sum(contribution) + 1e-9, 6) + 0.0").alias(
            "entropy_rate_bits"
        )
    )
    return (
        per.crossJoin(F.broadcast(rate))
        .orderBy("event_type")
    )


EVENTS_ENTROPY_RATE_SQL = (
    """
WITH steps AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
pmat AS (
  SELECT from_type, to_type,
         CAST(n AS DOUBLE)
           / sum(n) OVER (PARTITION BY from_type) AS p
  FROM counts
),
p0 AS (
  SELECT from_type AS state,
         1.0 / (SELECT CAST(count(DISTINCT from_type) AS DOUBLE) FROM pmat)
           AS pi
  FROM (SELECT DISTINCT from_type FROM pmat)
),"""
    + ",".join(
        _markov_step_sql(f"p{i}", f"p{i + 1}") for i in range(_MARKOV_ITERS)
    )
    + f""",
hcond AS (
  SELECT from_type AS state,
         round(-sum(round(p * log2(p), 8)) + 1e-9, 6) + 0.0 AS h_state
  FROM pmat GROUP BY from_type
),
per AS (
  SELECT p.state AS event_type,
         round(p.pi + 1e-9, 6) + 0.0 AS stationary_p,
         h.h_state,
         round(p.pi * h.h_state + 1e-9, 8) + 0.0 AS contribution
  FROM p{_MARKOV_ITERS} p JOIN hcond h ON p.state = h.state
),
rate AS (
  SELECT round(sum(contribution) + 1e-9, 6) + 0.0 AS entropy_rate_bits
  FROM per
)
SELECT per.*, rate.entropy_rate_bits
FROM per CROSS JOIN rate
ORDER BY event_type
"""
)


# --------------------------------------------------------------------------
# DAU/WAU stickiness per week
# --------------------------------------------------------------------------


def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness — mean DAU over the week divided by WAU —
    the growth-analytics engagement ratio (1/7 ≈ everyone visits
    once; 1.0 ≈ everyone visits daily) on top of the existing DAU
    machinery (dash_rolling_7d_dau, the bitmap rollups). Exact
    distincts: the (day, user) relation is user-cardinality-bounded
    per day, and the weekly distinct re-aggregates the same relation
    — one scan feeds both denominters via two keyed aggregates.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", "ts").alias("week"),
        F.date_trunc("day", "ts").alias("day"),
        "user_id",
    )
    day_users = ev.select("week", "day", "user_id").distinct()
    dau = day_users.groupBy("week", "day").agg(
        F.count("*").alias("dau")
    )
    weekly_dau = dau.groupBy("week").agg(
        F.count("*").cast("long").alias("n_days"),
        F.avg("dau").alias("avg_dau"),
    )
    wau = (
        day_users.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count("*").alias("wau"))
    )
    return (
        weekly_dau.join(wau, "week")
        .select(
            "week",
            "n_days",
            F.col("wau").cast("long").alias("wau"),
            F.expr("round(avg_dau + 1e-9, 4) + 0.0").alias("avg_dau"),
            F.expr("round(avg_dau / wau + 1e-9, 6) + 0.0").alias(
                "stickiness"
            ),
        )
        .orderBy("week")
    )


EVENTS_DAU_WAU_STICKINESS_SQL = """
WITH day_users AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         user_id
  FROM events
),
dau AS (
  SELECT week, day, count(*) AS dau FROM day_users GROUP BY week, day
),
weekly_dau AS (
  SELECT week, count(*) AS n_days, avg(dau) AS avg_dau
  FROM dau GROUP BY week
),
wau AS (
  SELECT week, count(*) AS wau
  FROM (SELECT DISTINCT week, user_id FROM day_users) w
  GROUP BY week
)
SELECT d.week, d.n_days,
       CAST(w.wau AS BIGINT) AS wau,
       round(d.avg_dau + 1e-9, 4) + 0.0 AS avg_dau,
       round(d.avg_dau / w.wau + 1e-9, 6) + 0.0 AS stickiness
FROM weekly_dau d JOIN wau w ON d.week = w.week
ORDER BY d.week
"""




def observed_metrics_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's Observation API as a conformance row — the in-flight
    metrics channel a production pipeline attaches to its writes
    (row counts, sums, freshness watermarks collected DURING the main
    action, no second scan): observe the events scan with three
    aggregate metrics, trigger one pass, and return the observed
    payload as a 1-row relation. The oracle recomputes the same
    aggregates directly — green iff the metrics channel reports
    exactly what a dedicated aggregation would.

    The observation payload is a BOUNDED driver-side metrics row by
    design (that is the API's contract — it exists precisely so the
    pipeline does NOT run a second corpus aggregate); the corpus-scale
    work stays in the observed scan.
    """
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("ev_metrics")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.max("ts").alias("max_ts"),
        F.min("ts").alias("min_ts"),
    )
    observed.write.mode("overwrite").format("noop").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                round(m["sum_value"] + 1e-9, 2),
                m["max_ts"],
                m["min_ts"],
            )
        ],
        "n_rows long, sum_value double, max_ts timestamp, min_ts timestamp",
    )


OBSERVED_METRICS_CONFORMANCE_SQL = """
SELECT count(*) AS n_rows,
       round(sum(value) + 1e-9, 2) AS sum_value,
       max(ts) AS max_ts,
       min(ts) AS min_ts
FROM events
"""



def columnar_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar encoding advisor — the layout-statistics table a
    warehouse's ANALYZE builds before choosing per-column encodings
    (Parquet/ORC pick RLE vs dictionary vs plain from exactly these
    numbers): per candidate column of the fact table, distinct
    cardinality, run count under the table's canonical order
    (l_orderkey, l_linenumber — runs are row-group-local in a real
    writer, so the walk is PARTITIONED by orderkey, never a global
    sort), mean run length, and the resulting recommendation
    (RLE when runs are long, DICT when the domain is narrow, else
    PLAIN).

    One melt pass (4 candidate columns stacked as strings — the
    encoding decision is representation-level, so the string view is
    the right abstraction), one partitioned lag walk, one bounded
    roll-up.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_quantity", "l_suppkey"]
    melted = li.select(
        "l_orderkey",
        "l_linenumber",
        F.posexplode(
            F.array(*[F.col(c).cast("string") for c in cols])
        ).alias("cidx", "val"),
    )
    # the fixture has (orderkey, linenumber) ties — break them by the
    # column value itself: rows tying on (linenumber, val) are
    # interchangeable for run counting, so the walk is total-order
    # invariant on both engines
    w = Window.partitionBy("cidx", "l_orderkey").orderBy(
        "l_linenumber", "val"
    )
    runs = melted.withColumn(
        "is_run_start",
        (
            F.lag("val").over(w).isNull()
            | (F.lag("val").over(w) != F.col("val"))
        ).cast("long"),
    )
    names = F.array(*[F.lit(c) for c in cols])
    per_col = (
        runs.groupBy("cidx")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("val").alias("n_distinct"),
            F.sum("is_run_start").alias("n_runs"),
        )
        .select(
            F.element_at(names, F.col("cidx") + 1).alias("column"),
            "n_rows",
            "n_distinct",
            F.col("n_runs").cast("long").alias("n_runs"),
            (
                F.round(F.col("n_rows") / F.col("n_runs") + 1e-9, 2) + 0.0
            ).alias("avg_run_len"),
        )
    )
    rec = (
        F.when(F.col("avg_run_len") >= 4.0, "RLE")
        .when(F.col("n_distinct") <= 1024, "DICT")
        .otherwise("PLAIN")
    )
    return per_col.select(
        "column", "n_rows", "n_distinct", "n_runs", "avg_run_len",
        rec.alias("recommendation"),
    ).orderBy("column")


COLUMNAR_ENCODING_ADVISOR_SQL = """
WITH melted AS (
  SELECT l_orderkey, l_linenumber, u.cidx, u.val FROM lineitem,
  LATERAL (
    SELECT * FROM (VALUES
      (0, CAST(l_returnflag AS VARCHAR)),
      (1, CAST(l_linestatus AS VARCHAR)),
      (2, CAST(l_quantity AS VARCHAR)),
      (3, CAST(l_suppkey AS VARCHAR))) v(cidx, val)
  ) u
),
runs AS (
  SELECT cidx, val,
         CASE WHEN lag(val) OVER (PARTITION BY cidx, l_orderkey
                                  ORDER BY l_linenumber, val)
                   IS DISTINCT FROM val
              THEN 1 ELSE 0 END AS is_run_start
  FROM melted
),
per_col AS (
  SELECT CASE cidx WHEN 0 THEN 'l_returnflag' WHEN 1 THEN 'l_linestatus'
                   WHEN 2 THEN 'l_quantity' ELSE 'l_suppkey' END AS "column",
         count(*) AS n_rows,
         CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
         CAST(sum(is_run_start) AS BIGINT) AS n_runs,
         round(count(*) / CAST(sum(is_run_start) AS DOUBLE) + 1e-9, 2) + 0.0
           AS avg_run_len
  FROM runs GROUP BY cidx
)
SELECT "column", n_rows, n_distinct, n_runs, avg_run_len,
       CASE WHEN avg_run_len >= 4.0 THEN 'RLE'
            WHEN n_distinct <= 1024 THEN 'DICT'
            ELSE 'PLAIN' END AS recommendation
FROM per_col ORDER BY "column"
"""


_DUP_PAY_PCT = 0.01  # amounts within 1%
_DUP_PAY_DAYS = 7


def orders_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the classic finance-audit
    analytic (same customer, near-identical amount, within a week:
    double-billed or double-paid): candidate pairs come from a
    (custkey, week-bucket) equi-join over ADJACENT buckets (each order
    probes its own and the next week bucket, so a 7-day gap can never
    straddle past the probe set — the bucketized range-join pattern),
    then the exact predicates verify. Never a per-customer cross
    product over all history.

    Emits one row per flagged pair (earlier order first, ties by
    orderkey) with the gap metrics an auditor triages by.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") + 1e-9, 2).alias("amt"),
    )
    wk = F.floor(
        F.datediff(F.col("d"), F.lit("1970-01-01")) / _DUP_PAY_DAYS
    ).cast("long")
    probe = o.select(
        "o_custkey", "o_orderkey", "d", "amt", wk.alias("wk")
    ).select(
        "o_custkey",
        "o_orderkey",
        "d",
        "amt",
        F.explode(F.array(F.col("wk"), F.col("wk") + 1)).alias("bkt"),
    )
    base = o.select(
        "o_custkey",
        F.col("o_orderkey").alias("orderkey_b"),
        F.col("d").alias("d_b"),
        F.col("amt").alias("amt_b"),
        wk.alias("bkt"),
    )
    pairs = (
        probe.join(base, ["o_custkey", "bkt"])
        .filter(
            (F.col("o_orderkey") < F.col("orderkey_b"))
            & (F.abs(F.datediff(F.col("d_b"), F.col("d"))) <= _DUP_PAY_DAYS)
            & (
                F.abs(F.col("amt") - F.col("amt_b"))
                <= _DUP_PAY_PCT * F.greatest(F.col("amt"), F.col("amt_b"))
            )
        )
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("order_a"),
            F.col("orderkey_b").alias("order_b"),
            "amt",
            F.col("amt_b").alias("amt_other"),
            F.abs(F.datediff(F.col("d_b"), F.col("d")))
            .cast("long")
            .alias("day_gap"),
        )
        .distinct()
    )
    return pairs.orderBy("o_custkey", "order_a", "order_b")


ORDERS_DUPLICATE_PAYMENT_AUDIT_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS d,
         round(o_totalprice + 1e-9, 2) AS amt,
         CAST(floor((CAST(o_orderdate AS DATE) - DATE '1970-01-01')
              / {_DUP_PAY_DAYS}) AS BIGINT) AS wk
  FROM orders
),
probe AS (
  SELECT o_custkey, o_orderkey, d, amt, wk AS bkt FROM o
  UNION ALL
  SELECT o_custkey, o_orderkey, d, amt, wk + 1 FROM o
)
SELECT DISTINCT p.o_custkey,
       p.o_orderkey AS order_a,
       b.o_orderkey AS order_b,
       p.amt,
       b.amt AS amt_other,
       CAST(abs(b.d - p.d) AS BIGINT) AS day_gap
FROM probe p JOIN o b
  ON p.o_custkey = b.o_custkey AND p.bkt = b.wk
WHERE p.o_orderkey < b.o_orderkey
  AND abs(b.d - p.d) <= {_DUP_PAY_DAYS}
  AND abs(p.amt - b.amt) <= {_DUP_PAY_PCT} * greatest(p.amt, b.amt)
ORDER BY p.o_custkey, order_a, order_b
"""


_SALT_FANOUT = 16


def salted_agg_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation conformance row: the two-phase SALTED aggregate
    — explode each row's key with a deterministic salt (event_id %
    {S}), partial-aggregate on (key, salt), then final-aggregate on
    the key — must produce values identical to the direct groupBy.
    This is the documented 100 TB lever for a hot grouping key
    (event_type here is 8 keys over the whole corpus — exactly the
    shape where one reducer would take the entire table): the salt
    splits every hot key across {S} reducers and the final pass
    re-combines {S}-sized partials. Sums are reassociated by the salt
    split, so both value legs round 2dp (the conformance tolerance
    the reassociation needs); counts are exact integers.

    The oracle computes the straight single-phase aggregate — the
    row is green IFF salting is a pure execution-strategy change.
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.select(
        "event_type",
        (F.col("event_id") % _SALT_FANOUT).alias("salt"),
        "value",
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count("*").alias("pn"),
        F.sum("value").alias("psum"),
        F.min("value").alias("pmin"),
        F.max("value").alias("pmax"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").cast("long").alias("n"),
            F.round(F.sum("psum") + 1e-9, 2).alias("sum_value"),
            F.round(F.min("pmin") + 1e-9, 4).alias("min_value"),
            F.round(F.max("pmax") + 1e-9, 4).alias("max_value"),
            F.count("*").cast("long").alias("n_salt_partials"),
        )
        .orderBy("event_type")
    )


salted_agg_conformance.__doc__ = salted_agg_conformance.__doc__.format(
    S=_SALT_FANOUT
)


SALTED_AGG_CONFORMANCE_SQL = f"""
SELECT event_type,
       count(*) AS n,
       round(sum(value) + 1e-9, 2) AS sum_value,
       round(min(value) + 1e-9, 4) AS min_value,
       round(max(value) + 1e-9, 4) AS max_value,
       CAST(count(DISTINCT event_id % {_SALT_FANOUT}) AS BIGINT)
         AS n_salt_partials
FROM events
GROUP BY event_type ORDER BY event_type
"""



_RFM_Q = 5


def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary — the
    classic marketing-analytics cube): per customer, days since last
    order, order count, and total spend, each scored 1..{Q} by
    quintile, rolled up per RFM code (e.g. 555 = best customers).

    No global per-customer sort: each metric's quintile boundaries
    come from the DISTINCT-value cumulative walk (the
    ``value_equidepth_scalable`` discipline — window above an
    Aggregate, bounded by the metric's value domain), and customers
    join back on the metric value. Recency scores INVERT (fewest days
    -> {Q}); frequency/monetary score ascending. Monetary rounds 2dp
    BEFORE the grid so both engines quantize identical values.
    """
    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max(F.to_date("o_orderdate")).alias("dmax"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            # cent-exact: integer cents summed exactly (the per-customer
            # total cannot drift across partial-sum orders); the
            # dollars grid key derives from the cents deterministically
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("m_cents"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff("dmax", "last_order").cast("long").alias("recency"),
            "frequency",
            "m_cents",
            F.round(F.col("m_cents") / 100, 2).alias("monetary"),
        )
    )

    def grid(col: str, invert: bool) -> DataFrame:
        per_v = rfm.groupBy(col).agg(F.count("*").alias("n_v"))
        wv = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        tot = per_v.agg(F.sum("n_v").alias("n_total"))
        bucket = F.floor(
            F.col("cum_before") * _RFM_Q / F.col("n_total")
        ).cast("int")
        score = (_RFM_Q - bucket) if invert else (bucket + F.lit(1))
        return (
            per_v.withColumn(
                "cum_before", F.coalesce(F.sum("n_v").over(wv), F.lit(0))
            )
            .crossJoin(F.broadcast(tot))
            .select(col, score.alias(f"s_{col}"))
        )

    scored = (
        rfm.join(grid("recency", invert=True), "recency")
        .join(grid("frequency", invert=False), "frequency")
        .join(grid("monetary", invert=False), "monetary")
        .select(
            "o_custkey",
            "recency",
            "frequency",
            "m_cents",
            (
                F.col("s_recency") * 100
                + F.col("s_frequency") * 10
                + F.col("s_monetary")
            )
            .cast("long")
            .alias("rfm_code"),
        )
    )
    return (
        scored.groupBy("rfm_code")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("recency") + 1e-9, 2).alias("avg_recency_days"),
            F.round(F.avg("frequency") + 1e-9, 2).alias("avg_frequency"),
            # the mean in INTEGER-CENT half-up arithmetic: at ~4e6
            # magnitude a double mean can land on an exact half-cent
            # where Spark's BigDecimal(shortest-string) rounding and
            # DuckDB's binary rounding disagree deterministically (and
            # partial-sum noise swamps the 1e-9 nudge) — integer
            # division (2·ΣC + n) div (2n) sidesteps floats entirely
            (
                F.expr("(2 * sum(m_cents) + count(*)) DIV (2 * count(*))")
                / 100.0
            ).alias("avg_monetary"),
        )
        .orderBy("rfm_code")
    )


orders_rfm_segments.__doc__ = orders_rfm_segments.__doc__.format(Q=_RFM_Q)


def _rfm_grid_sql(col: str, invert: bool) -> str:
    score = (
        f"{_RFM_Q} - CAST(floor(cum_before * {_RFM_Q} / n_total) AS INT)"
        if invert
        else f"CAST(floor(cum_before * {_RFM_Q} / n_total) AS INT) + 1"
    )
    return f"""(
  SELECT {col}, {score} AS s_{col} FROM (
    SELECT {col}, coalesce(sum(n_v) OVER (ORDER BY {col} ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before,
           (SELECT CAST(sum(n_v) AS DOUBLE) FROM per_v_{col}) AS n_total
    FROM per_v_{col}
  )
)"""


ORDERS_RFM_SEGMENTS_SQL = f"""
WITH rfm AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
              (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
           AS BIGINT) AS recency,
         count(*) AS frequency,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS m_cents,
         round(CAST(sum(round(o_totalprice * 100)) AS BIGINT) / 100, 2)
           AS monetary
  FROM orders GROUP BY o_custkey
),
per_v_recency AS (
  SELECT recency, count(*) AS n_v FROM rfm GROUP BY recency),
per_v_frequency AS (
  SELECT frequency, count(*) AS n_v FROM rfm GROUP BY frequency),
per_v_monetary AS (
  SELECT monetary, count(*) AS n_v FROM rfm GROUP BY monetary),
scored AS (
  SELECT rfm.*,
         CAST(gr.s_recency * 100 + gf.s_frequency * 10 + gm.s_monetary
           AS BIGINT) AS rfm_code
  FROM rfm
  JOIN {_rfm_grid_sql("recency", True)} gr USING (recency)
  JOIN {_rfm_grid_sql("frequency", False)} gf USING (frequency)
  JOIN {_rfm_grid_sql("monetary", False)} gm USING (monetary)
)
SELECT rfm_code, count(*) AS n_customers,
       round(avg(recency) + 1e-9, 2) AS avg_recency_days,
       round(avg(frequency) + 1e-9, 2) AS avg_frequency,
       ((2 * sum(m_cents) + count(*)) // (2 * count(*))) / 100.0
         AS avg_monetary
FROM scored GROUP BY rfm_code ORDER BY rfm_code
"""


QUERIES = {
    "orders_rfm_segments": orders_rfm_segments,
    "salted_agg_conformance": salted_agg_conformance,
    "observed_metrics_conformance": observed_metrics_conformance,
    "columnar_encoding_advisor": columnar_encoding_advisor,
    "orders_duplicate_payment_audit": orders_duplicate_payment_audit,
    "bucketed_join_colocated": bucketed_join_colocated,
    "dynamic_partition_pruning_join": dynamic_partition_pruning_join,
    "events_markov_stationary": events_markov_stationary,
    "events_dau_wau_stickiness": events_dau_wau_stickiness,
    "grouping_sets_conformance": grouping_sets_conformance,
    "group_by_all_conformance": group_by_all_conformance,
    "window_funnel_depth": window_funnel_depth,
    "interval_datetime_conformance": interval_datetime_conformance,
    "map_functions_conformance": map_functions_conformance,
    "custom_agg_trimmed_mean": custom_agg_trimmed_mean,
    "nan_inf_conformance": nan_inf_conformance,
    "copurchase_pairs_topk": copurchase_pairs_topk,
    "customer_rfm_segments": customer_rfm_segments,
    "event_transition_matrix": event_transition_matrix,
    "events_markov_next_eval": events_markov_next_eval,
    "events_entropy_rate": events_entropy_rate,
    "udtf_chunk_documents": udtf_chunk_documents,
    "sessionize": sessionize,
    "higher_order_functions_conformance": higher_order_functions_conformance,
    "timezone_conformance": timezone_conformance,
    "variant_json_conformance": variant_json_conformance,
    "cep_funnel_sequence": cep_funnel_sequence,
    "bitwise_functions_conformance": bitwise_functions_conformance,
    "unpivot_conformance": unpivot_conformance,
    "sessionize_native": sessionize_native,
    "value_quantiles": value_quantiles,
    "value_quantiles_approx": value_quantiles_approx,  # rows-only (sketch)
    "scalar_functions": scalar_functions,
    "date_functions": date_functions,
    "stats_functions": stats_functions,
    "window_rank_functions": window_rank_functions,
    "events_cube": events_cube,
    "events_rollup_multi_granularity": events_rollup_multi_granularity,
    "docs_lang_source_pivot": docs_lang_source_pivot,
    "funnel_conversion": funnel_conversion,
    "cohort_retention": cohort_retention,
    "orders_cohort_ltv_curve": orders_cohort_ltv_curve,
    "attribution_last_touch": attribution_last_touch,
    "string_collation_conformance": string_collation_conformance,
    "regex_functions_conformance": regex_functions_conformance,
    "null_semantics_conformance": null_semantics_conformance,
    "decimal_arithmetic_conformance": decimal_arithmetic_conformance,
    "correlated_subquery_conformance": correlated_subquery_conformance,
    "lateral_join_topk_conformance": lateral_join_topk_conformance,
    "listagg_conformance": listagg_conformance,
    "try_functions_conformance": try_functions_conformance,
    "file_format_roundtrip": file_format_roundtrip,
    "recursive_cte_conformance": recursive_cte_conformance,
    "regr_aggregates_conformance": regr_aggregates_conformance,
    "pareto_frontier_customers": pareto_frontier_customers,
}

ORACLES = {
    "orders_rfm_segments": ORDERS_RFM_SEGMENTS_SQL,
    "salted_agg_conformance": SALTED_AGG_CONFORMANCE_SQL,
    "observed_metrics_conformance": OBSERVED_METRICS_CONFORMANCE_SQL,
    "columnar_encoding_advisor": COLUMNAR_ENCODING_ADVISOR_SQL,
    "orders_duplicate_payment_audit": ORDERS_DUPLICATE_PAYMENT_AUDIT_SQL,
    "bucketed_join_colocated": BUCKETED_JOIN_COLOCATED_SQL,
    "dynamic_partition_pruning_join": DYNAMIC_PARTITION_PRUNING_JOIN_SQL,
    "events_markov_stationary": EVENTS_MARKOV_STATIONARY_SQL,
    "events_dau_wau_stickiness": EVENTS_DAU_WAU_STICKINESS_SQL,
    "window_funnel_depth": WINDOW_FUNNEL_DEPTH_SQL,
    "recursive_cte_conformance": RECURSIVE_CTE_CONFORMANCE_SQL,
    "regr_aggregates_conformance": REGR_AGGREGATES_CONFORMANCE_SQL,
    "pareto_frontier_customers": PARETO_FRONTIER_CUSTOMERS_SQL,
    "grouping_sets_conformance": GROUPING_SETS_CONFORMANCE_SQL,
    "group_by_all_conformance": GROUP_BY_ALL_CONFORMANCE_SQL,
    "interval_datetime_conformance": INTERVAL_DATETIME_CONFORMANCE_SQL,
    "map_functions_conformance": MAP_FUNCTIONS_CONFORMANCE_SQL,
    "docs_lang_source_pivot": DOCS_LANG_SOURCE_PIVOT_SQL,
    "higher_order_functions_conformance": HIGHER_ORDER_FUNCTIONS_CONFORMANCE_SQL,
    "timezone_conformance": TIMEZONE_CONFORMANCE_SQL,
    "variant_json_conformance": VARIANT_JSON_CONFORMANCE_SQL,
    "cep_funnel_sequence": CEP_FUNNEL_SEQUENCE_SQL,
    "bitwise_functions_conformance": BITWISE_FUNCTIONS_CONFORMANCE_SQL,
    "unpivot_conformance": UNPIVOT_CONFORMANCE_SQL,
    "funnel_conversion": FUNNEL_CONVERSION_SQL,
    "cohort_retention": COHORT_RETENTION_SQL,
    "orders_cohort_ltv_curve": ORDERS_COHORT_LTV_CURVE_SQL,
    "attribution_last_touch": ATTRIBUTION_LAST_TOUCH_SQL,
    "string_collation_conformance": STRING_COLLATION_CONFORMANCE_SQL,
    "regex_functions_conformance": REGEX_FUNCTIONS_CONFORMANCE_SQL,
    "null_semantics_conformance": NULL_SEMANTICS_CONFORMANCE_SQL,
    "decimal_arithmetic_conformance": DECIMAL_ARITHMETIC_CONFORMANCE_SQL,
    "correlated_subquery_conformance": CORRELATED_SUBQUERY_CONFORMANCE_SQL,
    "lateral_join_topk_conformance": LATERAL_JOIN_TOPK_CONFORMANCE_SQL,
    "listagg_conformance": LISTAGG_CONFORMANCE_SQL,
    "try_functions_conformance": TRY_FUNCTIONS_CONFORMANCE_SQL,
    "custom_agg_trimmed_mean": CUSTOM_AGG_TRIMMED_MEAN_SQL,
    # deliberately the SAME oracle as docs_chunked: the UDTF and the
    # declarative chunker must both match DuckDB to the hash
    "udtf_chunk_documents": _UDTF_CHUNK_DOCUMENTS_SQL,
    "nan_inf_conformance": NAN_INF_CONFORMANCE_SQL,
    "copurchase_pairs_topk": COPURCHASE_PAIRS_TOPK_SQL,
    "customer_rfm_segments": CUSTOMER_RFM_SEGMENTS_SQL,
    "event_transition_matrix": EVENT_TRANSITION_MATRIX_SQL,
    "events_markov_next_eval": EVENTS_MARKOV_NEXT_EVAL_SQL,
    "events_entropy_rate": EVENTS_ENTROPY_RATE_SQL,
    "sessionize": SESSIONIZE_SQL,
    "sessionize_native": SESSIONIZE_NATIVE_SQL,
    "value_quantiles": VALUE_QUANTILES_SQL,
    "scalar_functions": SCALAR_FUNCTIONS_SQL,
    "date_functions": DATE_FUNCTIONS_SQL,
    "stats_functions": STATS_FUNCTIONS_SQL,
    "window_rank_functions": WINDOW_RANK_FUNCTIONS_SQL,
    "events_cube": EVENTS_CUBE_SQL,
    "events_rollup_multi_granularity": EVENTS_ROLLUP_MULTI_GRANULARITY_SQL,
    "file_format_roundtrip": FILE_FORMAT_ROUNDTRIP_SQL,
}
