"""Semantics of the DQ monitoring operators (dq.py) on fixture data —
cross-engine equality is the oracle harness's job; these pin the
invariants the audit consumers rely on."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.operators.dq import (
    _PROFILE_COLS,
    orders_dq_profile,
    value_distribution_psi,
)


def test_profile_covers_every_column_with_consistent_totals(spark, sf_dir):
    rows = orders_dq_profile(spark, sf_dir).collect()
    assert sorted(r["column"] for r in rows) == sorted(_PROFILE_COLS)
    n_rows = {r["n_rows"] for r in rows}
    assert len(n_rows) == 1  # every audit row sees the same scan
    for r in rows:
        assert 0 <= r["n_null"] <= r["n_rows"]
        # distinct counts non-null values only
        assert r["n_distinct"] <= r["n_rows"] - r["n_null"]
        assert r["n_distinct"] >= 1


def test_profile_key_column_is_unique_and_nonnull(spark, sf_dir):
    rows = {r["column"]: r for r in orders_dq_profile(spark, sf_dir).collect()}
    pk = rows["o_orderkey"]
    assert pk["n_null"] == 0
    assert pk["n_distinct"] == pk["n_rows"]


def test_psi_is_symmetric_bounded_and_flags_correctly(spark, sf_dir):
    rows = value_distribution_psi(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        # PSI is non-negative by Gibbs' inequality (term-wise (p-q)ln(p/q) >= 0)
        assert r["psi"] >= 0.0, r
        assert r["drift_flag"] == int(r["psi"] >= 0.2)


def test_hll_rollup_within_sketch_bound(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.dq import daily_users_hll_rollup

    [r] = daily_users_hll_rollup(spark, sf_dir).collect()
    assert r["within_bound"] == 1
    assert r["n_days"] > 0
    # unioned sketch estimate must be in the ballpark of exact
    assert r["rel_err"] <= 0.05


def test_psi_near_zero_for_identical_halves(spark, tmp_path):
    # synthetic: the same uniform value distribution in both halves →
    # every bin's p == q → PSI ~ 0 (exactly 0 up to ε-smoothing noise)
    import datetime

    rows = [
        (
            i,
            datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i),
            1,
            "x",
            float(i % 10),
            "{}",
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path)
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    [r] = value_distribution_psi(spark, d).collect()
    assert abs(r["psi"]) < 1e-3
    assert r["drift_flag"] == 0
