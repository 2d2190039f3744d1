"""Every form of the 5-minute trade aggregate and of the CDC change log
against its DuckDB oracle.

The batch, salted, hourly-rollup, streaming and fan-out forms of the
trade window aggregate share one partial/merge/finalize definition
(operators/window_agg.py); the batch, streaming and Python-DataSource
round-trips, current-state and version views of the CDC change log
share one definition (operators/cdc_ops.py); every other oracle-gated
streaming twin shares one streaming scaffold
(streaming/stream_queries.py, streaming/job.py). Each registered
query must still match its registry oracle by row count and
order-insensitive value hash — the same comparison
``tools/check_correctness.py`` makes.
"""

from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(_REPO, "tools") not in sys.path:
    sys.path.insert(0, os.path.join(_REPO, "tools"))

from check_correctness import value_hash  # noqa: E402

from cdc_realtime_pipeline_spark.plans.registry import (  # noqa: E402
    all_oracles,
    all_queries,
)

TRADE_AGG_QUERIES = [
    "window_agg_5m",
    "window_agg_5m_salted",
    "window_agg_1h_rollup",
    "stream_window_agg_5m",
    "stream_merged_trade_agg",
]

CDC_LOG_QUERIES = [
    "cdc_roundtrip",
    "cdc_apply_changes",
    "cdc_scd2_history",
    "pit_join_versions",
    "stream_cdc_parse",
    "stream_cdc_apply",
    "stream_cdc_scd2",
    "cdc_python_datasource_roundtrip",
    "stream_cdc_python_datasource",
    "cdc_python_datasource_write_roundtrip",
]


# the other oracle-gated streaming twins: each runs through the shared
# fixture-table stream or CDC topic, the memory sink and the launcher
STREAM_TWIN_QUERIES = [
    "stream_countmin_sketch",
    "stream_window_chain",
    "stream_daily_users_bitmap",
    "stream_cep_funnel",
    "stream_topk_per_window",
    "stream_ohlc_bars_5m",
    "stream_value_drift_gate",
    "stream_cusum_alarm",
    "stream_sprt_alarm",
    "stream_open_interval_depth",
    "stream_dedup_counts",
    "stream_dedup_watermarked",
    "stream_sessionize",
    "stream_static_enrich",
    "stream_stream_join",
    "stream_stream_left_outer",
    "stream_stream_full_outer",
    "stream_anomaly_rule_counts",
    "stream_docs_quality_gate",
    "stream_decontaminate_gate",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for table in ("events", "orders", "documents"):
        p = os.path.join(sf_dir, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", TRADE_AGG_QUERIES + CDC_LOG_QUERIES + STREAM_TWIN_QUERIES)
def test_trade_agg_matches_oracle(spark, sf_dir, duck, name):
    sdf = all_queries()[name](spark, sf_dir)
    srows = [r[:] for r in sdf.collect()]
    tbl = duck.execute(all_oracles()[name]).fetch_arrow_table()
    dcols = list(tbl.column_names)
    drows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []

    assert srows, "a 0 == 0 match proves nothing"
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(dcols)
    assert value_hash(srows, sdf.columns) == value_hash(drows, dcols)
