"""Anomaly-rule semantics via the pure per-key detector function
(rule-trigger checks mirroring docs/04-flink-streaming.md:289-302):
each rule at / under / over threshold, EMA recurrence + seed, the
min-sample gate, and RAPID_TRADES fire-once (==N, not ≥N).
"""

from __future__ import annotations

import pandas as pd

from cdc_realtime_pipeline_spark.operators.anomaly import (
    _EMA_ALPHA,
    _LARGE_TIERS,
    _RAPID_COUNT,
    _RAPID_WINDOW_MS,
    _SPIKE_TIERS,
    _SURGE_MIN_SAMPLES,
    _SURGE_MULT,
)
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
    detect_anomalies_batch_of_key,
)


def _pdf(rows):
    return pd.DataFrame(
        rows,
        columns=[
            "sequential_id",
            "trade_id",
            "trade_price",
            "trade_volume",
            "trade_amount",
            "upbit_timestamp",
        ],
    )


def _run(rows, market="M-0", st=None):
    return detect_anomalies_batch_of_key(market, _pdf(rows), st or {})


def test_large_trade_threshold_boundary():
    # market M-0 → tier 0 threshold (_LARGE_TIERS[0]); fire at ≥, not below
    under = _run([(1, 1, 10.0, 1.0, _LARGE_TIERS[0] - 0.01, 1000)])[0]
    at = _run([(1, 1, 10.0, 1.0, _LARGE_TIERS[0], 1000)])[0]
    assert not [a for a in under if a["alert_type"] == "LARGE_TRADE"]
    hits = [a for a in at if a["alert_type"] == "LARGE_TRADE"]
    assert len(hits) == 1 and hits[0]["threshold"] == _LARGE_TIERS[0]


def test_price_spike_vs_previous_event():
    # 2% threshold for tier-0 markets; second event +exactly threshold
    rows = [
        (1, 1, 100.0, 1.0, 0.0, 1000),
        (2, 2, 100.0 * (1 + _SPIKE_TIERS[0]), 1.0, 0.0, 2000),  # fires
        (3, 3, 100.0 * (1 + _SPIKE_TIERS[0]) * 1.001, 1.0, 0.0, 3000),  # small move, no fire
    ]
    alerts, st = _run(rows)
    spikes = [a for a in alerts if a["alert_type"] == "PRICE_SPIKE"]
    assert [a["trade_id"] for a in spikes] == [2]
    # lastPrice updated on *every* event, not only on alerts
    assert st["last_price"] == rows[-1][2]


def test_volume_surge_ema_and_min_sample_gate():
    # constant volume 10 → EMA stays 10; spike of exactly mult×EMA fires
    # only once past the sample gate
    n = _SURGE_MIN_SAMPLES
    warm = [(i, i, 1.0, 10.0, 0.0, i * 1000) for i in range(1, n + 1)]
    spike_early = warm[: n - 1] + [(n, n, 1.0, 10.0 * _SURGE_MULT, 0.0, n * 1000)]
    alerts_early, _ = _run(spike_early)
    assert not [a for a in alerts_early if a["alert_type"] == "VOLUME_SURGE"]

    spike_late = warm + [(n + 1, n + 1, 1.0, 10.0 * _SURGE_MULT, 0.0, (n + 1) * 1000)]
    alerts_late, st = _run(spike_late)
    surges = [a for a in alerts_late if a["alert_type"] == "VOLUME_SURGE"]
    assert [a["trade_id"] for a in surges] == [n + 1]
    # EMA recurrence: seed with first value then e←(1−α)e+αv
    e = 10.0
    for _ in range(n):
        e = (1 - _EMA_ALPHA) * e + _EMA_ALPHA * 10.0
    e = (1 - _EMA_ALPHA) * e + _EMA_ALPHA * (10.0 * _SURGE_MULT)
    assert abs(st["ema"] - e) < 1e-12


def test_rapid_trades_fire_once_at_exact_count():
    # N events inside the window → exactly one alert at the Nth; the
    # N+1th does NOT re-fire (== semantics, AnomalyDetector.java:174)
    rows = [(i, i, 1.0, 1.0, 0.0, 1000 + i) for i in range(1, _RAPID_COUNT + 2)]
    alerts, _ = _run(rows)
    rapid = [a for a in alerts if a["alert_type"] == "RAPID_TRADES"]
    assert [a["trade_id"] for a in rapid] == [_RAPID_COUNT]


def test_rapid_trades_window_reset():
    # a gap larger than the window resets the counter
    rows = [(i, i, 1.0, 1.0, 0.0, i * (_RAPID_WINDOW_MS + 1)) for i in range(1, 10)]
    alerts, _ = _run(rows)
    assert not [a for a in alerts if a["alert_type"] == "RAPID_TRADES"]


def test_state_carries_across_micro_batches():
    # PRICE_SPIKE must see the previous batch's last price
    alerts1, st = _run([(1, 1, 100.0, 1.0, 0.0, 1000)])
    alerts2, _ = _run([(2, 2, 100.0 * (1 + _SPIKE_TIERS[0]), 1.0, 0.0, 2000)], st=st)
    assert [a["trade_id"] for a in alerts2 if a["alert_type"] == "PRICE_SPIKE"] == [2]


def test_rows_sorted_by_sequential_id_before_rules():
    # out-of-order arrival within a micro-batch is re-sequenced
    rows = [
        (2, 2, 100.0 * (1 + _SPIKE_TIERS[0]), 1.0, 0.0, 2000),
        (1, 1, 100.0, 1.0, 0.0, 1000),
    ]
    alerts, _ = _run(rows)
    assert [a["trade_id"] for a in alerts if a["alert_type"] == "PRICE_SPIKE"] == [2]
