"""Correctness oracles, run outside every timed region.

Each check returns a list of mismatch descriptions (empty = correct).
The expected values come from the generator's ground truth or from an
independent engine (pandas, DuckDB), never from the sinks themselves.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import pandas as pd

WINDOW_MS = 5 * 60 * 1000


def check_raw_sink(spark, out_base: str, truth: list[dict]) -> list[str]:
    """Raw sink rows == the events that carry a row image."""
    raw = spark.read.parquet(os.path.join(out_base, "crypto_trades")).select("trade_id", "op")
    got = Counter(raw.toPandas().itertuples(index=False, name=None))
    want = Counter((t["trade_id"], t["op"]) for t in truth)
    if got != want:
        return [f"raw sink: {sum(got.values())} rows, expected {sum(want.values())}; "
                f"{len(got - want)} extra / {len(want - got)} missing (trade_id, op)"]
    return []


def check_window_agg(spark, out_base: str, truth: list[dict]) -> list[str]:
    """``read_merged_trade_agg`` per (window, market) == pandas recomputation."""
    from pyspark.sql import functions as F

    from cdc_realtime_pipeline_spark.streaming.job import read_merged_trade_agg

    got = (
        read_merged_trade_agg(spark, out_base)
        .select(F.unix_millis("window_start").alias("w"), "market", "trade_count", "bid_count",
                "total_amount", "total_volume", "min_price", "max_price")
        .toPandas()
        .set_index(["w", "market"])
        .sort_index()
    )
    df = pd.DataFrame(truth)
    df["w"] = df["upbit_timestamp"] - df["upbit_timestamp"] % WINDOW_MS
    df["bid"] = (df["ask_bid"] == "BID").astype("int64")
    want = (
        df.groupby(["w", "market"])
        .agg(trade_count=("op", "size"), bid_count=("bid", "sum"),
             total_amount=("trade_amount", "sum"), total_volume=("trade_volume", "sum"),
             min_price=("trade_price", "min"), max_price=("trade_price", "max"))
        .sort_index()
    )
    if not got.index.equals(want.index):
        return [f"window agg: {len(got)} (window, market) groups, expected {len(want)}"]
    bad = []
    for col in ("trade_count", "bid_count"):
        n = int((got[col].astype("int64") != want[col].astype("int64")).sum())
        if n:
            bad.append(f"window agg: {n} groups with wrong {col}")
    for col in ("total_amount", "total_volume", "min_price", "max_price"):
        ok = [math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9) for a, b in zip(got[col], want[col])]
        if not all(ok):
            bad.append(f"window agg: {ok.count(False)} groups with wrong {col}")
    return bad


def expected_alerts(truth: list[dict]) -> Counter:
    """Replay ``detect_anomalies_batch_of_key`` per market over the whole
    insert stream (sequential ids grow across files, so one sorted pass
    per market equals the engine's per-batch sorted passes)."""
    from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import (
        detect_anomalies_batch_of_key,
    )

    inserts = pd.DataFrame([t for t in truth if t["op"] == "c"])
    want: Counter = Counter()
    for market, pdf in inserts.groupby("market", sort=True):
        alerts, _ = detect_anomalies_batch_of_key(market, pdf, {})
        want.update((a["market"], a["alert_type"], a["trade_id"]) for a in alerts)
    return want


def check_alerts(spark, out_base: str, truth: list[dict]) -> list[str]:
    """Alert sink == the detector replayed per market, as an exact
    multiset of (market, alert_type, trade_id)."""
    rows = spark.read.parquet(os.path.join(out_base, "anomaly_alerts")).select(
        "market", "alert_type", "trade_id").collect()
    got = Counter(tuple(r) for r in rows)
    want = expected_alerts(truth)
    if got != want:
        return [f"alerts: {sum(got.values())} rows, expected {sum(want.values())}; "
                f"{len(got - want)} extra / {len(want - got)} missing"]
    if len({k[1] for k in want}) < 4:
        return [f"alerts: only {sorted({k[1] for k in want})} fired; the generator plants all four"]
    return []


def check_latency_mv(spark, mv_dir: str, truth: list[dict]) -> list[str]:
    """``read_latency_mv`` Σn == the number of c/u/d events."""
    from cdc_realtime_pipeline_spark.streaming.mv import read_latency_mv

    got = sum(r["n"] for r in read_latency_mv(spark, mv_dir).select("n").collect())
    want = sum(1 for t in truth if t["op"] in ("c", "u", "d"))
    return [] if got == want else [f"latency MV: Σn = {got}, expected {want}"]


def check_sinks(spark, out_base: str, mv_dir: str, truth: list[dict]) -> list[str]:
    return (check_raw_sink(spark, out_base, truth) + check_window_agg(spark, out_base, truth)
            + check_alerts(spark, out_base, truth) + check_latency_mv(spark, mv_dir, truth))


# -- dashboard panels -------------------------------------------------------
HLL_RSD = 0.01  # approx_distinct_users' configured relative error


def _norm(v) -> str:
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "b:" + str(int(v))
    if isinstance(v, int):
        return "i:" + str(v)
    if isinstance(v, float):
        return "f:NaN" if math.isnan(v) else "f:" + repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return "ts:" + v.replace(tzinfo=None).isoformat()
    return str(v)


def result_digest(rows, columns: list[str]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the values."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def _last_place(x: float) -> float:
    """One unit in the last decimal place ``repr`` shows (0.0001 for 131.7578)."""
    text = repr(x)
    return 10.0 ** -(len(text) - text.index(".") - 1) if "." in text and "e" not in text else 0.0


def _rounding_tie(got: list, want: list) -> bool:
    """True when two result sets agree except for floats one unit apart
    in their last rounded place: ``round(avg, 4)`` of the same values
    summed in a different order lands on either side of a half-way tie."""
    def split(row):
        key = tuple(_norm(v) for v in row if not isinstance(v, float))
        return key, [v for v in row if isinstance(v, float)]

    g, w = dict(map(split, got)), dict(map(split, want))
    if len(g) != len(got) or g.keys() != w.keys():
        return False
    for key, gv in g.items():
        for a, b in zip(gv, w[key]):
            if a != b and abs(a - b) > 1.01 * max(_last_place(a), _last_place(b)):
                return False
    return True


class PanelOracle:
    """Expected result of every panel, from ``operators.dashboard.ORACLES``
    run on DuckDB over the same Parquet file. Results match on row count
    and an order-insensitive hash; where the hash differs only because
    a rounded float sits on a half-way tie (see ``_rounding_tie``) the
    rows count as equal and are tallied in ``tie_rows``."""

    def __init__(self, events_path: str):
        import duckdb

        from cdc_realtime_pipeline_spark.operators.dashboard import ORACLES

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        self.expected: dict[str, tuple[list, tuple[int, str]]] = {}
        for name, sql in ORACLES.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
            self.expected[name] = (rows, result_digest(rows, cols))
        self.n_users = con.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
        con.close()
        self.tie_rows: dict[str, int] = {}

    def check(self, name: str, rows, columns: list[str]) -> list[str]:
        if name == "dash_approx_distinct_users":
            r = rows[0].asDict()
            err = abs(r["n_users_approx"] - self.n_users) / self.n_users
            if r["n_users_exact"] != self.n_users or err > 5 * HLL_RSD:
                return [f"{name}: approx {r['n_users_approx']} vs exact {self.n_users}"]
            return []
        want_rows, want = self.expected[name]
        got = result_digest(rows, columns)
        if got == want:
            return []
        if got[0] == want[0] and _rounding_tie([tuple(r) for r in rows], want_rows):
            diff = sum(1 for a, b in zip(sorted(map(tuple, rows), key=str),
                                         sorted(want_rows, key=str)) if a != b)
            self.tie_rows[name] = max(self.tie_rows.get(name, 0), diff)
            return []
        return [f"{name}: {got} != oracle {want}"]
