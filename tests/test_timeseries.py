"""Unit semantics for the tick time-series operators (timeseries.py):
OHLC tie-breaking, TWAP holding-time weights, LOCF gap-fill. The
fixture-level cross-engine equality is covered by the oracle harness;
these pin the hand-computable edge cases."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.operators.timeseries import (
    ohlc_bars,
    resample_locf,
    twap,
)


def _ts(minute: int, second: int = 0, micro: int = 0):
    return datetime.datetime(2024, 1, 1, 0, minute, second, micro)


TICK_SCHEMA = "market long, ts timestamp, event_id long, price double"


def test_ohlc_open_close_and_tie_break(spark):
    rows = [
        # market 1, one 5-min bar: open=first by ts, close=last by ts
        (1, _ts(0, 10), 1, 100.0),
        (1, _ts(2, 0), 2, 90.0),
        (1, _ts(4, 59), 3, 110.0),
        # market 2: two ticks at the IDENTICAL ts — event_id breaks the
        # tie, so open=id 10's price, close=id 11's
        (2, _ts(1, 0), 10, 7.0),
        (2, _ts(1, 0), 11, 9.0),
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = {r["market"]: r for r in ohlc_bars(df).collect()}
    m1 = out[1]
    assert (m1["open"], m1["high"], m1["low"], m1["close"], m1["n_ticks"]) == (
        100.0,
        110.0,
        90.0,
        110.0,
        3,
    )
    m2 = out[2]
    assert (m2["open"], m2["close"]) == (7.0, 9.0)
    assert m2["bar_start"] == _ts(0)


def test_ohlc_bar_boundaries_are_epoch_aligned(spark):
    # a tick at exactly 05:00 belongs to the [05:00, 10:00) bar
    rows = [(1, _ts(4, 59, 999999), 1, 5.0), (1, _ts(5, 0), 2, 6.0)]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    bars = {r["bar_start"]: r for r in ohlc_bars(df).collect()}
    assert bars[_ts(0)]["n_ticks"] == 1
    assert bars[_ts(5)]["n_ticks"] == 1


def test_twap_weights_by_holding_time(spark):
    # price 10 held minutes 0-45, price 100 held 45-60 ⇒
    # twap = (10*2700 + 100*900) / 3600 = 32.5 ; a plain avg says 55.
    rows = [(1, _ts(0), 1, 10.0), (1, _ts(45), 2, 100.0)]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    [r] = twap(df).collect()
    assert r["held_sec"] == pytest.approx(3600.0)
    assert r["twap"] == pytest.approx(32.5)


def test_twap_last_tick_capped_at_bar_end_and_zero_weight_ties(spark):
    # two hours; the 00h tick's weight stops at the hour end even
    # though its successor is in 01h. Simultaneous 01h ticks: the
    # first of the tie holds 0s and contributes nothing.
    rows = [
        (1, _ts(30), 1, 10.0),  # held 30:00→60:00 = 1800 s
        (1, datetime.datetime(2024, 1, 1, 1, 0), 2, 50.0),  # tie, 0 s
        (1, datetime.datetime(2024, 1, 1, 1, 0), 3, 70.0),  # held full hour
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = {r["bar_start"].hour: r for r in twap(df).collect()}
    assert out[0]["held_sec"] == pytest.approx(1800.0)
    assert out[0]["twap"] == pytest.approx(10.0)
    assert out[1]["held_sec"] == pytest.approx(3600.0)
    assert out[1]["twap"] == pytest.approx(70.0)


def test_locf_fills_interior_gaps_only(spark):
    # buckets 00:00 and 00:30 observed; 00:15 missing → carried 10.0,
    # flagged as gap. Grid spans exactly [first, last] bucket per key.
    rows = [(1, _ts(1), 1, 10.0), (1, _ts(31), 2, 30.0)]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = sorted(resample_locf(df).collect(), key=lambda r: r["bucket"])
    assert [r["bucket"].minute for r in out] == [0, 15, 30]
    assert [r["price"] for r in out] == [10.0, 10.0, 30.0]
    assert [r["is_gap"] for r in out] == [0, 1, 0]


def test_fixture_invariants_ohlc_twap_locf(spark, sf_dir):
    """Arithmetic invariants that must hold on ANY input, checked over
    the full fixture: OHLC ordering, TWAP boundedness, LOCF totality."""
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        gap_fill_locf,
        ohlc_bars_5m,
        twap_hourly,
    )
    from cdc_realtime_pipeline_spark.session import load_table

    bad_ohlc = (
        ohlc_bars_5m(spark, sf_dir)
        .filter(
            (F.col("low") > F.col("high"))
            | (F.col("open") < F.col("low"))
            | (F.col("open") > F.col("high"))
            | (F.col("close") < F.col("low"))
            | (F.col("close") > F.col("high"))
            | (F.col("n_ticks") < 1)
        )
        .count()
    )
    assert bad_ohlc == 0

    # twap is a convex combination of the hour's prices ⇒ bounded by
    # the hour's min/max. Tolerance 1e-3: the rounded Σpw introduces
    # up to 5e-5/held_sec distortion on sub-second bars (documented in
    # the operator)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
        F.timestamp_seconds(
            (F.unix_micros("ts") / 1_000_000).cast("long")
            - ((F.unix_micros("ts") / 1_000_000).cast("long") % 3600)
        ).alias("hour_start"),
    )
    hb = ev.groupBy("market", "hour_start").agg(
        F.min("price").alias("lo"), F.max("price").alias("hi")
    )
    bad_twap = (
        twap_hourly(spark, sf_dir)
        .join(hb, ["market", "hour_start"])
        .filter(
            (F.col("twap") < F.col("lo") - 1e-3)
            | (F.col("twap") > F.col("hi") + 1e-3)
        )
        .count()
    )
    assert bad_twap == 0

    # grid starts at each key's first observed bucket ⇒ LOCF never
    # leaves a null price
    assert gap_fill_locf(spark, sf_dir).filter(F.col("price").isNull()).count() == 0


def test_rolling_bands_need_full_frame_and_flag_direction(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        _BAND_K,
        _BAND_N,
        rolling_price_bands,
    )

    out = rolling_price_bands(spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        # every emitted tick actually breaks its (rounded) band
        if r["breakout"] == "UP":
            assert r["price"] > round(r["mid"] + _BAND_K * r["sd"], 4) - 1e-9
        else:
            assert r["price"] < round(r["mid"] - _BAND_K * r["sd"], 4) + 1e-9
    # warm-up exclusion: a market's first N-1 ticks can never appear.
    # event ids are globally ordered only per market, so check via a
    # direct recount: no emitted event may be among its market's first
    # N-1 events.
    from cdc_realtime_pipeline_spark.session import load_table

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("market"), "event_id", "ts"
    )
    from pyspark.sql.window import Window as W

    rn = ev.withColumn(
        "rn", F.row_number().over(W.partitionBy("market").orderBy("ts", "event_id"))
    ).filter(F.col("rn") < _BAND_N)
    early = {(r["market"], r["event_id"]) for r in rn.collect()}
    emitted = {(r["market"], r["event_id"]) for r in rows}
    assert not (early & emitted)


def test_locf_grid_is_per_key(spark):
    # key 2's grid must not extend to key 1's range
    rows = [
        (1, _ts(0), 1, 1.0),
        (1, _ts(59), 2, 2.0),
        (2, _ts(30), 3, 5.0),
    ]
    df = spark.createDataFrame(rows, TICK_SCHEMA)
    out = resample_locf(df)
    assert out.filter(F.col("market") == 2).count() == 1
    assert out.filter(F.col("market") == 1).count() == 4


def test_gap_fill_locf_persist_gate_is_result_identical(
    spark, sf_dir, monkeypatch
):
    """The volume-gated persist (round 14 — the hampel #19 discipline)
    must be a pure plan-shape switch: forcing the persist path on the
    fixture (gate at 1 row) yields exactly the ungated result."""
    from cdc_realtime_pipeline_spark.operators.timeseries import gap_fill_locf

    monkeypatch.setenv("SPARK_GRAFT_LOCF_PERSIST_ROWS", str(10**12))
    plain = gap_fill_locf(spark, sf_dir).collect()
    monkeypatch.setenv("SPARK_GRAFT_LOCF_PERSIST_ROWS", "1")
    forced = gap_fill_locf(spark, sf_dir).collect()
    key = lambda r: (r["market"], r["bucket"])  # noqa: E731
    assert sorted(plain, key=key) == sorted(forced, key=key)
