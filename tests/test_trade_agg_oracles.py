"""Every form of the 5-minute trade aggregate against its DuckDB oracle.

The batch, salted, hourly-rollup, streaming and fan-out forms of the
trade window aggregate share one partial/merge/finalize definition
(operators/window_agg.py); each registered query must still match its
registry oracle by row count and order-insensitive value hash — the
same comparison ``tools/check_correctness.py`` makes.
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


@pytest.fixture(scope="module")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    p = os.path.join(sf_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", TRADE_AGG_QUERIES)
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
