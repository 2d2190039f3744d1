"""CDC envelope queries: synthesize → parse round-trip, oracle-gated.

``cdc_roundtrip`` drives the full Debezium-envelope path on fixture
data: events → Debezium-shaped JSON strings (inserts + deletes) →
``parse_cdc_events`` → typed rows. The DuckDB oracle recomputes the
expected output directly from ``events``, so the parser's envelope
unwrap, op routing (delete reads ``before``), decimal-string casts and
latency derivation are all verified against an independent engine.

The change log and its two read-side views are defined once here and
work on batch and streaming-sourced frames alike:

* ``roundtrip_columns`` — the parsed-row projection ``CDC_ROUNDTRIP_SQL``
  checks (every round-trip leg: batch, text stream, Python DataSource);
* ``update_log_events`` — the events behind the update log: every 5th
  event replayed one hour later at double price;
* ``current_state`` — latest version per key, deletes dropped (the
  MERGE-INTO table; ``cdc_apply_changes``, ``stream_cdc_apply``);
* ``versions`` — SCD2 validity intervals per key, deletes dropped
  (``cdc_scd2_history``, ``pit_join_versions``, ``stream_cdc_scd2``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cdc_realtime_pipeline_spark.cdc.envelope import (
    parse_cdc_events,
    synthesize_cdc_json_from_events,
)
from cdc_realtime_pipeline_spark.session import load_table, tracked_persist


def _parallel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events is a single small parquet file → one input split; the JSON
    # encode/decode chain is per-row-heavy, so spread it across cores
    # first (at cluster scale the source would already be many splits).
    n = spark.sparkContext.defaultParallelism
    return load_table(spark, sf_dir, "events").repartition(n)


def roundtrip_columns(parsed: DataFrame) -> DataFrame:
    """The parsed change rows as ``CDC_ROUNDTRIP_SQL`` states them:
    10 columns, the three decimal-string amounts rounded to 4 places.
    No final sort: the compare is order-insensitive and global sorts
    don't scale."""
    return parsed.select(
        "trade_id",
        "market",
        F.round("trade_price", 4).alias("trade_price"),
        F.round("trade_volume", 4).alias("trade_volume"),
        F.round("trade_amount", 4).alias("trade_amount"),
        "ask_bid",
        "upbit_timestamp",
        "sequential_id",
        "op",
        "cdc_latency_ms",
    )


def update_log_events(events: DataFrame) -> DataFrame:
    """The events behind the update log: every event once, plus a
    second version of every 5th one — doubled price, one hour later.
    Synthesize (row-wise) and parse it to get the change log whose
    current state must surface the second version."""
    return events.unionAll(
        events.filter(F.col("event_id") % 5 == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )


def current_state(log: DataFrame) -> DataFrame:
    """The current-rows table a parsed change log describes: per key,
    the latest change by (cdc_ts, sequential_id); a final delete
    removes the key. Columns and rounding as ``CDC_APPLY_CHANGES_SQL``.

    One hash-aggregate shuffle on the key: ``max_by`` over the order
    struct reduces map-side (guide §2.3 "aggregate before you
    shuffle"), so the exchange carries one partially-reduced row per
    (map task, key), not every log row, and no sort is needed. The
    generator guarantees one op per key per (cdc_ts, seq) position, so
    the winner is unique — the row a rank-1 window would select."""
    latest = log.groupBy("trade_id").agg(
        F.max_by(
            F.struct("op", "market", "trade_price", "ask_bid", "upbit_timestamp"),
            F.struct("cdc_ts", "sequential_id"),
        ).alias("w")
    )
    return latest.filter(F.col("w.op") != "d").select(
        "trade_id",
        F.col("w.market").alias("market"),
        F.round("w.trade_price", 4).alias("trade_price"),
        F.col("w.ask_bid").alias("ask_bid"),
        F.col("w.upbit_timestamp").alias("upbit_timestamp"),
    )


def versions(log: DataFrame) -> DataFrame:
    """SCD2 version rows of a parsed change log: every non-delete change
    is a version valid from its cdc_ts until the key's next change
    (``valid_to_ms`` NULL = still current; a trailing delete closes the
    last interval, so a deleted key has no current version). Columns
    and rounding as ``CDC_SCD2_HISTORY_SQL``. One shuffle on the key
    (lead window); deletes are dropped after the window, which still
    sees them."""
    w = Window.partitionBy("trade_id").orderBy("cdc_ts", "sequential_id")
    return (
        log.withColumn("valid_to_ms", F.lead("cdc_ts").over(w))
        .filter(F.col("op") != "d")
        .select(
            "trade_id",
            "market",
            F.round("trade_price", 4).alias("trade_price"),
            F.col("cdc_ts").alias("valid_from_ms"),
            "valid_to_ms",
            F.col("valid_to_ms").isNull().alias("is_current"),
        )
    )


def _update_log(events: DataFrame) -> DataFrame:
    """The parsed update log of ``events``."""
    return parse_cdc_events(synthesize_cdc_json_from_events(update_log_events(events)))


def cdc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _parallel_events(spark, sf_dir)
    return roundtrip_columns(parse_cdc_events(synthesize_cdc_json_from_events(events)))


# Mirrors synthesize_cdc_json_from_events' field mapping exactly:
# op = 'd' for error events (image read from `before`), else 'c';
# cdc_ts − source_ts = event_id % 10 by construction.
CDC_ROUNDTRIP_SQL = """
SELECT event_id AS trade_id,
       'M-' || CAST(user_id AS VARCHAR) AS market,
       round(value, 4) AS trade_price,
       round(CAST(json_extract_string(props, '$.k') AS DOUBLE), 4) AS trade_volume,
       round(value * CAST(json_extract_string(props, '$.k') AS DOUBLE), 4) AS trade_amount,
       CASE WHEN event_type IN ('click','purchase') THEN 'BID' ELSE 'ASK' END AS ask_bid,
       epoch_ms(ts) AS upbit_timestamp,
       event_id AS sequential_id,
       CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
       event_id % 10 AS cdc_latency_ms
FROM events
"""


def cdc_op_filtered_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 op-type filters over parsed CDC events: per-op counts +
    insert-only aggregate (the dashboard's ``WHERE op='c'`` shape)."""
    events = _parallel_events(spark, sf_dir)
    parsed = parse_cdc_events(synthesize_cdc_json_from_events(events))
    return (
        parsed.filter(F.col("op").isin("c", "u", "d"))
        .groupBy("op")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("trade_amount"), 2).alias("sum_amount"),
        )
        .orderBy("op")
    )


CDC_OP_FILTERED_COUNTS_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
       count(*) AS n,
       round(sum(value * CAST(json_extract_string(props, '$.k') AS DOUBLE)), 2) AS sum_amount
FROM events
GROUP BY 1 ORDER BY 1
"""


def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the current-state table from a change log.

    The core CDC "apply" semantics (the MySQL table the reference's
    binlog describes): per primary key, take the latest change by
    (cdc_ts, sequential_id); a final ``op='d'`` removes the row. On a
    Delta/Iceberg deployment this is MERGE INTO; here it's the engine-
    level emulation, ``current_state`` over the update log — apply
    must surface the *second* version of every 5th key.
    """
    return current_state(_update_log(_parallel_events(spark, sf_dir)))


# the oracle reconstructs apply semantics directly: non-error events
# (op='c') survive; every 5th takes its updated (doubled) price; error
# events are deletes and vanish.
CDC_APPLY_CHANGES_SQL = """
SELECT event_id AS trade_id,
       'M-' || CAST(user_id AS VARCHAR) AS market,
       round(CASE WHEN event_id % 5 = 0 THEN value * 2 ELSE value END, 4) AS trade_price,
       CASE WHEN event_type IN ('click','purchase') THEN 'BID' ELSE 'ASK' END AS ask_bid,
       CASE WHEN event_id % 5 = 0 THEN epoch_ms(ts + INTERVAL 1 HOUR) ELSE epoch_ms(ts) END
         AS upbit_timestamp
FROM events
WHERE event_type != 'error'
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history table from the change log — every non-delete change
    becomes a VERSION row with a validity interval: ``valid_from_ms`` =
    its cdc_ts, ``valid_to_ms`` = the key's next change's cdc_ts (NULL
    = still current; a trailing delete closes the last interval, so a
    deleted key has no current version). The other half of the CDC
    story next to ``cdc_apply_changes``' latest-state view: the
    dimension-history warehouses keep.

    ``versions`` over the same update log as apply.
    """
    return versions(_update_log(_parallel_events(spark, sf_dir)))


# log reconstruction mirrors synthesize + the apply updates: cdc_ts =
# epoch_ms + event_id % 10; replayed rows shift +1 h and double price.
CDC_SCD2_HISTORY_SQL = """
WITH log AS (
  SELECT event_id AS trade_id,
         'M-' || CAST(user_id AS VARCHAR) AS market,
         value AS price,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
         epoch_ms(ts) + event_id % 10 AS cdc_ts,
         event_id AS seq
  FROM events
  UNION ALL
  SELECT event_id,
         'M-' || CAST(user_id AS VARCHAR),
         value * 2,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END,
         epoch_ms(ts) + 3600000 + event_id % 10,
         event_id
  FROM events WHERE event_id % 5 = 0
),
versions AS (
  SELECT *,
         lead(cdc_ts) OVER (PARTITION BY trade_id ORDER BY cdc_ts, seq)
           AS valid_to_ms
  FROM log
)
SELECT trade_id, market, round(price, 4) AS trade_price,
       cdc_ts AS valid_from_ms, valid_to_ms,
       valid_to_ms IS NULL AS is_current
FROM versions WHERE op != 'd'
"""


def pit_join_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join — the feature-store leakage guard: each query
    event must see exactly the version of its key that was valid AT its
    query timestamp, never a later one. Queries are the events shifted
    +30 min (between a key's base version and its +1 h update), so
    updated keys must resolve to their FIRST version — a query that
    (wrongly) reads the latest version leaks the future and this
    query's counts change.

    Plan: equi-join on the key + interval predicate (versions per key
    are few — bounded fan-out, no range-join explosion), then one
    audit aggregate: matches, current-version matches, price checksum.
    """
    events = _parallel_events(spark, sf_dir)
    ver = versions(_update_log(events)).select(
        "trade_id",
        F.col("trade_price").alias("v_price"),
        "valid_from_ms",
        "valid_to_ms",
    )
    queries = events.select(
        F.col("event_id").alias("trade_id"),
        (F.unix_millis("ts") + 1_800_000).alias("q_ms"),
    )
    pit = queries.join(ver, "trade_id").filter(
        (F.col("valid_from_ms") <= F.col("q_ms"))
        & (F.col("q_ms") < F.coalesce(F.col("valid_to_ms"), F.lit(2**62)))
    )
    return pit.agg(
        F.count("*").alias("n_matched"),
        F.sum(F.col("valid_to_ms").isNull().cast("long")).alias("n_on_current"),
        F.round(F.sum("v_price") + 1e-9, 2).alias("price_checksum"),
    )


PIT_JOIN_VERSIONS_SQL = """
WITH log AS (
  SELECT event_id AS trade_id, value AS price,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
         epoch_ms(ts) + event_id % 10 AS cdc_ts, event_id AS seq
  FROM events
  UNION ALL
  SELECT event_id, value * 2,
         CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END,
         epoch_ms(ts) + 3600000 + event_id % 10, event_id
  FROM events WHERE event_id % 5 = 0
),
versions AS (
  SELECT trade_id, round(price, 4) AS v_price, cdc_ts AS valid_from_ms,
         lead(cdc_ts) OVER (PARTITION BY trade_id ORDER BY cdc_ts, seq) AS valid_to_ms,
         op
  FROM log
),
queries AS (
  SELECT event_id AS trade_id, epoch_ms(ts) + 1800000 AS q_ms FROM events
),
pit AS (
  SELECT v.v_price, v.valid_to_ms
  FROM queries q JOIN versions v ON q.trade_id = v.trade_id
  WHERE v.op != 'd'
    AND v.valid_from_ms <= q.q_ms
    AND q.q_ms < coalesce(v.valid_to_ms, 4611686018427387904)
)
SELECT count(*) AS n_matched,
       CAST(count(CASE WHEN valid_to_ms IS NULL THEN 1 END) AS BIGINT) AS n_on_current,
       round(sum(v_price) + 1e-9, 2) AS price_checksum
FROM pit
"""


def cdc_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of resolution — the two-axis query SCD2 cannot
    answer: "what did we BELIEVE at transaction time T_tx the value
    was AT valid time T_v?" (Snodgrass; the audit/restatement query
    every finance warehouse needs). The version log carries both
    axes: base rows (valid_from = event time, tx = arrival), RETRO
    CORRECTIONS for every 5th key (same valid_from — they restate
    history — price×2, arriving +40 min), and NEW PERIODS for every
    7th key (valid_from +1 h, price×3, arriving +70 min).

    Resolution is one argmax: among versions with tx ≤ T_tx and
    valid_from ≤ T_v, the (valid_from, tx)-max wins — latest valid
    period known at T_tx, restated by the latest-arriving correction
    for that period. Two snapshots per key (T_tx = event+60 min and
    +120 min, T_v = event+90 min) pin the transition: at t60 the
    correction is visible but the new period is NOT yet known; at
    t120 the new period takes over for %7 keys — so the same key
    resolves to three different prices across the table, which is
    the whole point of the second time axis.

    Scale: version fan-out per key is ≤3 (bounded); the resolve is an
    equi-join on the key + a per-(snapshot, key) struct-max — one
    shuffle each, no range-join explosion, no windows over unbounded
    relations.
    """
    events = _parallel_events(spark, sf_dir).select(
        F.col("event_id").alias("trade_id"),
        F.unix_millis("ts").alias("e_ms"),
        F.round("value", 4).alias("price"),
    )
    base = events.select(
        "trade_id",
        F.col("e_ms").alias("valid_from"),
        (F.col("e_ms") + F.col("trade_id") % 10).alias("tx"),
        "price",
        F.lit("base").alias("kind"),
    )
    corr = events.filter(F.col("trade_id") % 5 == 0).select(
        "trade_id",
        F.col("e_ms").alias("valid_from"),
        (F.col("e_ms") + F.lit(2_400_000)).alias("tx"),
        F.round(F.col("price") * 2, 4).alias("price"),
        F.lit("corr").alias("kind"),
    )
    newp = events.filter(F.col("trade_id") % 7 == 0).select(
        "trade_id",
        (F.col("e_ms") + F.lit(3_600_000)).alias("valid_from"),
        (F.col("e_ms") + F.lit(4_200_000)).alias("tx"),
        F.round(F.col("price") * 3, 4).alias("price"),
        F.lit("new").alias("kind"),
    )
    versions = base.unionByName(corr).unionByName(newp)
    snaps = events.select(
        "trade_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("t060").alias("snapshot"),
                    (F.col("e_ms") + F.lit(3_600_000)).alias("q_tx"),
                    (F.col("e_ms") + F.lit(5_400_000)).alias("q_v"),
                ),
                F.struct(
                    F.lit("t120").alias("snapshot"),
                    (F.col("e_ms") + F.lit(7_200_000)).alias("q_tx"),
                    (F.col("e_ms") + F.lit(5_400_000)).alias("q_v"),
                ),
            )
        ).alias("q"),
    ).select("trade_id", "q.snapshot", "q.q_tx", "q.q_v")
    resolved = (
        snaps.join(versions, "trade_id")
        .filter(
            (F.col("tx") <= F.col("q_tx"))
            & (F.col("valid_from") <= F.col("q_v"))
        )
        .groupBy("snapshot", "trade_id")
        .agg(
            F.max(
                F.struct("valid_from", "tx", "kind", "price")
            ).alias("win")
        )
    )
    return (
        resolved.groupBy("snapshot")
        .agg(
            F.count("*").alias("n_keys"),
            F.count_if(F.col("win.kind") == "base").cast("long").alias("n_base"),
            F.count_if(F.col("win.kind") == "corr").cast("long").alias("n_corrected"),
            F.count_if(F.col("win.kind") == "new").cast("long").alias("n_new_period"),
            F.round(F.sum("win.price") + 1e-9, 2).alias("price_checksum"),
        )
        .orderBy("snapshot")
    )


CDC_BITEMPORAL_ASOF_SQL = """
WITH ev AS (
  SELECT event_id AS trade_id, epoch_ms(ts) AS e_ms,
         round(value, 4) AS price
  FROM events
),
versions AS (
  SELECT trade_id, e_ms AS valid_from, e_ms + trade_id % 10 AS tx,
         price, 'base' AS kind
  FROM ev
  UNION ALL
  SELECT trade_id, e_ms, e_ms + 2400000, round(price * 2, 4), 'corr'
  FROM ev WHERE trade_id % 5 = 0
  UNION ALL
  SELECT trade_id, e_ms + 3600000, e_ms + 4200000,
         round(price * 3, 4), 'new'
  FROM ev WHERE trade_id % 7 = 0
),
snaps AS (
  SELECT trade_id, 't060' AS snapshot,
         e_ms + 3600000 AS q_tx, e_ms + 5400000 AS q_v FROM ev
  UNION ALL
  SELECT trade_id, 't120', e_ms + 7200000, e_ms + 5400000 FROM ev
),
resolved AS (
  SELECT s.snapshot, s.trade_id, v.kind, v.price
  FROM snaps s JOIN versions v ON s.trade_id = v.trade_id
  WHERE v.tx <= s.q_tx AND v.valid_from <= s.q_v
  QUALIFY row_number() OVER (PARTITION BY s.snapshot, s.trade_id
                             ORDER BY v.valid_from DESC, v.tx DESC) = 1
)
SELECT snapshot,
       count(*) AS n_keys,
       CAST(count(CASE WHEN kind = 'base' THEN 1 END) AS BIGINT) AS n_base,
       CAST(count(CASE WHEN kind = 'corr' THEN 1 END) AS BIGINT)
         AS n_corrected,
       CAST(count(CASE WHEN kind = 'new' THEN 1 END) AS BIGINT)
         AS n_new_period,
       round(sum(price) + 1e-9, 2) AS price_checksum
FROM resolved
GROUP BY snapshot
ORDER BY snapshot
"""


def cdc_parse_audit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lenient-parse accounting: the audit parser variant over a topic
    carrying deliberately broken messages — every 13th message is
    truncated JSON, every 29th a tombstone (empty value) — grouped by
    reject reason. The pipeline-health query a production CDC consumer
    alarms on (a reference FlatMapFunction drops these silently;
    SURVEY §4 prescribes the accounted variant).
    """
    from cdc_realtime_pipeline_spark.cdc.envelope import parse_cdc_events_with_audit

    events = _parallel_events(spark, sf_dir)
    # message stream: good messages for untouched ids, broken for the rest
    raw = (
        synthesize_cdc_json_from_events(
            events.filter((F.col("event_id") % 13 != 0) & (F.col("event_id") % 29 != 0))
        )
        .unionAll(
            events.filter((F.col("event_id") % 13 == 0) | (F.col("event_id") % 29 == 0))
            .select(
                F.when(F.col("event_id") % 29 == 0, F.lit(None).cast("string"))
                .otherwise(
                    F.concat(
                        F.lit('{"payload": {"op": "c", "aft'),
                        F.col("event_id").cast("string"),
                    )
                )
                .alias("value")
            )
        )
    )
    audited = parse_cdc_events_with_audit(raw)
    return (
        audited.groupBy(F.coalesce("_reject_reason", F.lit("ok")).alias("reason"))
        .agg(F.count("*").alias("n"))
        .orderBy("reason")
    )


CDC_PARSE_AUDIT_STATS_SQL = """
WITH tagged AS (
  SELECT CASE WHEN event_id % 29 = 0 THEN 'tombstone'
              WHEN event_id % 13 = 0 THEN 'malformed_json'
              ELSE 'ok' END AS reason
  FROM events
)
SELECT reason, count(*) AS n FROM tagged GROUP BY reason ORDER BY reason
"""


def cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-to-checkpoint diff — "what changed since yesterday"
    over two applied CDC snapshots (the Delta CDF / audit-feed
    workload): snapshot₁ applies the base log, snapshot₂ applies
    base ∪ a second day's traffic (updates: every 5th key re-priced
    ×2; deletes: every 13th-not-5th key tombstoned; inserts: every
    17th key cloned to a new id), then a full-outer key join
    classifies added / removed / changed / unchanged and aggregates
    per class. The oracle is the CLOSED FORM of the same day-2 rules
    straight off events — so the whole envelope→parse→apply→diff
    machinery must reproduce ground truth, not just itself.

    The delete predicate excludes %5 keys: a same-key update and
    tombstone would carry the identical (cdc_ts, seq) and the apply
    rank would tie nondeterministically — the generator avoids the
    ambiguity the way a real binlog can't contain it (one op per key
    per position). Two ADVICE r4 hardenings: (a) the insert-clone
    offset is ``max(event_id) + 1`` (a broadcast scalar), provably
    disjoint from live keys at ANY fixture scale instead of the old
    fixed 1e6; (b) the update generator skips ``value = 0`` rows
    (value·2 == value would make the driver's genuine ``p1 != p2``
    diff say "unchanged" while a mod-rule oracle says "changed" —
    excluding the degenerate keys keeps the driver a TRUE value
    diff and the closed form exact). Scale (restructured round 13,
    guide §2.3/§2.4): base events persisted once (VERDICT r4 #5 —
    one scan feeds all four synthesized logs plus the offset agg);
    both snapshots then resolve in ONE map-side-reducing hash
    aggregate over base ∪ day2 — ``max_by`` over the (cdc_ts, seq)
    order struct picks the snapshot-2 winner, and a second ``max_by``
    restricted to base rows (null ordering keys are skipped by
    max_by) picks the snapshot-1 winner in the same pass — instead
    of the former two rank windows + full-outer key join (three
    corpus-sized exchanges + two sorts → one partially-aggregated
    exchange; the parsed-base persist is gone because base is now
    consumed exactly once). The winner per snapshot is identical to
    the rank-1 row: the generator guarantees one op per key per
    (cdc_ts, seq) position. Class agg is 4 rows.
    """
    events = tracked_persist(_parallel_events(spark, sf_dir))
    off = events.agg((F.max("event_id") + 1).alias("_ins_off"))
    base = parse_cdc_events(synthesize_cdc_json_from_events(events))
    upd = synthesize_cdc_json_from_events(
        events.filter((F.col("event_id") % 5 == 0) & (F.col("value") != 0))
        .withColumn("value", F.col("value") * 2)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    dele = synthesize_cdc_json_from_events(
        events.filter(
            (F.col("event_id") % 13 == 0) & (F.col("event_id") % 5 != 0)
        )
        .withColumn("event_type", F.lit("error"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    ins = synthesize_cdc_json_from_events(
        events.filter(F.col("event_id") % 17 == 0)
        .crossJoin(F.broadcast(off))
        .withColumn("event_id", F.col("event_id") + F.col("_ins_off"))
        .drop("_ins_off")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )

    day2 = parse_cdc_events(upd.unionAll(dele).unionAll(ins))
    log = base.withColumn("_in_base", F.lit(True)).unionByName(
        day2.withColumn("_in_base", F.lit(False))
    )
    ordk = F.struct("cdc_ts", "sequential_id")
    ver = F.struct("op", "trade_price")
    per_key = log.groupBy("trade_id").agg(
        F.max_by(ver, ordk).alias("w2"),
        F.max_by(
            F.when(F.col("_in_base"), ver), F.when(F.col("_in_base"), ordk)
        ).alias("w1"),
    )
    # p1/p2 = the snapshots' live prices: null ⟺ the key has no live
    # (non-delete-winner) version in that snapshot — exactly the keys
    # the old full-outer join left unmatched on that side
    j = per_key.select(
        F.when(F.col("w1.op") != "d", F.col("w1.trade_price")).alias("p1"),
        F.when(F.col("w2.op") != "d", F.col("w2.trade_price")).alias("p2"),
    ).filter(F.col("p1").isNotNull() | F.col("p2").isNotNull())
    cls = (
        F.when(F.col("p1").isNull(), "added")
        .when(F.col("p2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    price = F.coalesce(F.col("p2"), F.col("p1"))
    return (
        j.select(cls.alias("change_type"), price.alias("price"))
        .groupBy("change_type")
        .agg(
            F.count("*").alias("n_keys"),
            F.round(F.sum("price") + 1e-9, 4).alias("sum_price"),
        )
        .orderBy("change_type")
    )


# Closed form of the day-2 rules straight off events: non-error rows
# are live keys; the tombstoned/inserted/re-priced populations follow
# the same mod predicates the generator uses. "removed" carries its
# snapshot-1 price, everything else its snapshot-2 price.
CDC_DIFF_SNAPSHOTS_SQL = """
WITH live AS (
  SELECT event_id, value FROM events WHERE event_type != 'error'
),
classes AS (
  SELECT CASE WHEN event_id % 13 = 0 AND event_id % 5 != 0 THEN 'removed'
              WHEN event_id % 5 = 0 AND value != 0 THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         CASE WHEN event_id % 5 = 0 AND value != 0 THEN value * 2
              ELSE value END AS price
  FROM live
  UNION ALL
  SELECT 'added', value FROM live WHERE event_id % 17 = 0
)
SELECT change_type, count(*) AS n_keys,
       round(sum(price) + 1e-9, 4) AS sum_price
FROM classes GROUP BY change_type ORDER BY change_type
"""


QUERIES = {
    "cdc_diff_snapshots": cdc_diff_snapshots,
    "cdc_roundtrip": cdc_roundtrip,
    "cdc_op_filtered_counts": cdc_op_filtered_counts,
    "cdc_apply_changes": cdc_apply_changes,
    "cdc_bitemporal_asof": cdc_bitemporal_asof,
    "cdc_scd2_history": cdc_scd2_history,
    "cdc_parse_audit_stats": cdc_parse_audit_stats,
    "pit_join_versions": pit_join_versions,
}

ORACLES = {
    "cdc_diff_snapshots": CDC_DIFF_SNAPSHOTS_SQL,
    "cdc_roundtrip": CDC_ROUNDTRIP_SQL,
    "cdc_op_filtered_counts": CDC_OP_FILTERED_COUNTS_SQL,
    "cdc_apply_changes": CDC_APPLY_CHANGES_SQL,
    "cdc_bitemporal_asof": CDC_BITEMPORAL_ASOF_SQL,
    "cdc_scd2_history": CDC_SCD2_HISTORY_SQL,
    "cdc_parse_audit_stats": CDC_PARSE_AUDIT_STATS_SQL,
    "pit_join_versions": PIT_JOIN_VERSIONS_SQL,
}
