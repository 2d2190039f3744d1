"""Seeded input generators for the benchmark.

``ChangeStream`` writes Debezium-JSON change files (FIXTURES.md §A2) and
keeps the ground truth the oracles compare against: every parsed row the
engine should emit, in order. ``write_events_table`` writes the
dashboard's ``events`` table in the fixture schema (FIXTURES.md §B).

The engine sees only the files these functions write.
"""

from __future__ import annotations

import json
import math
import os
import random

import numpy as np

N_MARKETS = 50
ZIPF_S = 1.1  # market skew: M-0 gets ~22 % of the events, M-49 ~0.3 %
OP_MIX = (("c", 0.90), ("u", 0.07), ("d", 0.03))
EPOCH_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z

# Per-file counts of the envelope edge cases (FIXTURES.md §A2). Each
# rides on top of the op mix above.
TOMBSTONES = 2  # literal ``null`` value, dropped by the parser
MALFORMED = 2  # truncated / non-JSON lines, dropped
NO_IMAGE = 1  # op='c' with neither before nor after, dropped
SNAPSHOT = 2  # op='r' rows: raw sink only, not alerts or the MV
BARE_SHARE = 0.01  # events with no ``payload`` wrapper
MISSING_SHARE = 0.01  # events lacking ask_bid and trade_volume
NUMERIC_SHARE = 0.05  # decimals as bare JSON numbers, not strings

_ROW_FIELDS = ("trade_id", "market", "trade_price", "trade_volume", "trade_amount",
               "ask_bid", "upbit_timestamp", "sequential_id")


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


class ChangeStream:
    """Stateful generator of change files for one seeded run.

    Trade ids and sequential ids grow strictly across files, so
    "ordered by sequential_id" means the same thing within one
    micro-batch and over the whole stream (the alert oracle relies on
    this). ``truth`` holds one dict per row the parser should emit,
    with the values it should emit.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.markets = [f"M-{i}" for i in range(N_MARKETS)]
        self.weights = _zipf_weights(N_MARKETS, ZIPF_S).tolist()
        self.price = [self.rng.uniform(5.0, 50.0) for _ in range(N_MARKETS)]
        self.samples = [0] * N_MARKETS
        self.clock_ms = EPOCH_MS
        self.next_id = 1
        self.next_snapshot_id = 10**12
        self.live: list[dict] = []  # row images an update/delete may target
        self.truth: list[dict] = []
        self.files = 0

    # -- row images -------------------------------------------------------
    def _insert_image(self, m: int, price_mult=1.0, vol_mult=1.0, amount_floor=0.0):
        rng = self.rng
        self.clock_ms += rng.randrange(2000)
        self.price[m] *= math.exp(rng.gauss(0.0, 0.004))
        price = round(self.price[m] * price_mult, 8)
        vol = round(rng.lognormvariate(0.0, 0.25) * vol_mult, 8)
        if amount_floor:
            vol = round(max(vol, amount_floor / price), 8)
        tid = self.next_id
        self.next_id += 1
        self.samples[m] += 1
        return {
            "trade_id": tid,
            "market": self.markets[m],
            "trade_price": price,
            "trade_volume": vol,
            "trade_amount": round(price * vol, 4),
            "ask_bid": "BID" if rng.random() < 0.5 else "ASK",
            "upbit_timestamp": self.clock_ms,
            "sequential_id": tid,
        }

    @staticmethod
    def _encode(img: dict | None, numeric: bool, missing: bool) -> str:
        """A row image as Debezium JSON: decimals as strings, or as bare
        numbers when ``numeric``; ``missing`` drops ask_bid and volume."""
        if img is None:
            return "null"
        q = "" if numeric else '"'
        vol = "" if missing else f'"trade_volume":{q}{img["trade_volume"]:.8f}{q},'
        side = "" if missing else f'"ask_bid":"{img["ask_bid"]}",'
        return (
            f'{{"trade_id":{img["trade_id"]},"market":"{img["market"]}",'
            f'"trade_price":{q}{img["trade_price"]:.8f}{q},{vol}'
            f'"trade_amount":{q}{img["trade_amount"]:.4f}{q},{side}'
            f'"upbit_timestamp":{img["upbit_timestamp"]},"sequential_id":{img["sequential_id"]},'
            f'"created_at":"2024-01-01 00:00:00.000"}}'
        )

    def _truth_row(self, op: str, img: dict, missing: bool, src_ts: int, cdc_ts: int) -> dict:
        row = {k: img[k] for k in _ROW_FIELDS}
        # the parser reads the decimal strings back as doubles
        row["trade_price"] = float(f"{img['trade_price']:.8f}")
        row["trade_volume"] = 0.0 if missing else float(f"{img['trade_volume']:.8f}")
        row["trade_amount"] = float(f"{img['trade_amount']:.4f}")
        if missing:
            row["ask_bid"] = "UNKNOWN"
        row.update(op=op, source_ts=src_ts, cdc_ts=cdc_ts, cdc_latency_ms=cdc_ts - src_ts)
        return row

    def _event_line(self, op: str, before, after, bare=False, numeric=False, missing=False):
        img = before if op == "d" else after
        src_ts = (img or {}).get("upbit_timestamp", self.clock_ms) + self.rng.randrange(50)
        cdc_ts = src_ts + self.rng.randrange(5, 400)
        payload = (
            f'{{"before":{self._encode(before, numeric, missing)},'
            f'"after":{self._encode(after, numeric, missing)},'
            f'"source":{{"ts_ms":{src_ts},"db":"crypto_db","table":"crypto_trades"}},'
            f'"op":"{op}","ts_ms":{cdc_ts}}}'
        )
        if img is not None:
            self.truth.append(self._truth_row(op, img, missing, src_ts, cdc_ts))
        return payload if bare else f'{{"payload":{payload}}}'

    # -- files ------------------------------------------------------------
    def make_lines(self, n_events: int) -> list[str]:
        """One change file's lines: ``n_events`` row events in the op mix
        plus the fixed edge cases. Appends the expected rows to ``truth``."""
        rng = self.rng
        ops = rng.choices([o for o, _ in OP_MIX], [p for _, p in OP_MIX], k=n_events)
        mkts = rng.choices(range(N_MARKETS), self.weights, k=n_events)
        # one planted trigger per alert rule per file (RAPID_TRADES fires on
        # its own: hot markets see 3 trades well inside its 1 h window)
        hot = 0  # the heaviest Zipf rank
        plants = {n_events // 4: "large", n_events // 2: "spike", 3 * n_events // 4: "surge"}
        lines: list[str] = []
        for i in range(n_events):
            op, m = ops[i], mkts[i]
            flags = dict(
                bare=rng.random() < BARE_SHARE,
                numeric=rng.random() < NUMERIC_SHARE,
                missing=rng.random() < MISSING_SHARE,
            )
            if op != "c" and not self.live:
                op = "c"
            plant = plants.get(i)
            if plant:
                op, m = "c", hot
                flags["missing"] = False
            if op == "c":
                kw = {}
                if plant == "large":
                    kw["amount_floor"] = 2000.0
                elif plant == "spike":
                    kw["price_mult"] = 5.0
                elif plant == "surge" and self.samples[m] >= 10:
                    kw["vol_mult"] = 8.0
                # a planted spike is one bad tick: later trades resume
                # from the market's running price
                img = self._insert_image(m, **kw)
                self.live.append(img)
                if len(self.live) > 4096:
                    self.live = self.live[-2048:]
                lines.append(self._event_line("c", None, img, **flags))
            elif op == "u":
                j = rng.randrange(len(self.live))
                old = self.live[j]
                new = dict(old)
                new["trade_price"] = round(old["trade_price"] * 1.001, 8)
                new["trade_amount"] = round(new["trade_price"] * new["trade_volume"], 4)
                self.live[j] = new
                lines.append(self._event_line("u", old, new, **flags))
            else:
                old = self.live.pop(rng.randrange(len(self.live)))
                lines.append(self._event_line("d", old, None, **flags))
        for _ in range(SNAPSHOT):
            img = self._insert_image(rng.choices(range(N_MARKETS), self.weights)[0])
            img["trade_id"] = img["sequential_id"] = self.next_snapshot_id
            self.next_snapshot_id += 1
            lines.append(self._event_line("r", None, img))
        lines.extend(["null"] * TOMBSTONES)
        no_image = {"op": "c", "before": None, "after": None,
                    "source": {"ts_ms": self.clock_ms}, "ts_ms": self.clock_ms}
        lines.extend([json.dumps({"payload": no_image})] * NO_IMAGE)
        lines.append('{"payload": {"op": "c", "after": {"trade_id": 1')
        lines.extend(["not json"] * (MALFORMED - 1))
        # edge cases land at seeded positions; row events keep their order
        out = lines[:n_events]
        for extra in lines[n_events:]:
            out.insert(rng.randrange(len(out) + 1), extra)
        self.files += 1
        return out

    def write_file(self, n_events: int, staging: str, topic: str) -> None:
        """Write one change file to ``staging`` and rename it into
        ``topic`` (same filesystem, so the rename is atomic: the engine
        never lists a half-written file)."""
        name = f"part-{self.files:06d}.json"
        lines = self.make_lines(n_events)
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines))
            f.write("\n")
        os.rename(tmp, os.path.join(topic, name))


# -- dashboard events table -------------------------------------------------
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 1500
USER_ZIPF_S = 0.8
TABLE_DAYS = 3


def write_events_table(path: str, n_rows: int, seed: int) -> None:
    """``events`` table in the fixture schema (event_id long, ts
    timestamp, user_id long, event_type string, value double, props
    string) as one Parquet file at ``path``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    start_us = EPOCH_MS * 1000
    span_us = TABLE_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start_us, start_us + span_us, n_rows))
    user = rng.choice(N_USERS, size=n_rows, p=_zipf_weights(N_USERS, USER_ZIPF_S))
    etype = rng.choice(len(EVENT_TYPES), size=n_rows)
    value = np.round(rng.gamma(2.0, 60.0, n_rows), 2)
    k = rng.integers(0, 100, n_rows)
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype]),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {v}}}' for v in k]),
        }
    )
    pq.write_table(table, path)
