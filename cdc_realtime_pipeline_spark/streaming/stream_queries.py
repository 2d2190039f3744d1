"""Driver-facing streaming queries — run a real streaming query
synchronously and return its result as a DataFrame.

Each entry materializes fixture data as a file-backed CDC stream (or
file stream), runs Structured Streaming to completion
(``availableNow`` trigger), and returns the sink contents. Because the
input is finite and deterministic, two of them are *oracle-gated
streaming queries*: the streaming windowed aggregate must equal the
batch answer DuckDB computes — the strongest cross-engine check the
streaming runtime can get.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from cdc_realtime_pipeline_spark.cdc.envelope import (
    parse_cdc_events,
    synthesize_cdc_json_from_events,
)
from cdc_realtime_pipeline_spark.session import (
    convert_ns_timestamps,
    load_table,
    raw_schema,
    scratch_dir,
)
from cdc_realtime_pipeline_spark.operators import curation as _curation_oracles
from cdc_realtime_pipeline_spark.operators import dq as _dq_oracles
from cdc_realtime_pipeline_spark.operators import inference as _inf_oracles
from cdc_realtime_pipeline_spark.operators import temporal as _tmp_oracles
from cdc_realtime_pipeline_spark.operators import timeseries as _ts_oracles
from cdc_realtime_pipeline_spark.operators.window_agg import (
    EVENTS_WINDOW_AGG_5M_SQL,
    events_as_trades,
    finalize_trade_agg,
    round_trade_agg,
    trade_partials,
)
from cdc_realtime_pipeline_spark.sources.cdc_file_source import write_cdc_json_files
from cdc_realtime_pipeline_spark.streaming.anomaly_stateful import apply_anomaly_detector

# Synthesized CDC "topic" directories, keyed by (sf_dir, variant) —
# the fixture is immutable within a session, so the JSON encode +
# write happens once per variant instead of once per query invocation
# (ADVICE r2 temp-dir leak + the bench creep on the CDC pair). Dirs
# live under a session scratch root and are removed at exit.
_TOPIC_CACHE: dict[tuple[str, str], str] = {}


def _cdc_topic(spark: SparkSession, sf_dir: str, variant: str = "plain") -> str:
    import os

    key = (sf_dir, variant)
    if key not in _TOPIC_CACHE:
        events = load_table(spark, sf_dir, "events")
        if variant == "dupes":
            # 10% replayed rows — the dedup queries' duplicate feed
            events = events.unionAll(events.filter(F.col("event_id") % 10 == 0))
        elif variant == "apply":
            # the apply-changes change log: every 5th event replayed
            # with a doubled price one hour later (mirrors
            # cdc_ops.cdc_apply_changes' synthesis, shares its oracle)
            events = events.unionAll(
                events.filter(F.col("event_id") % 5 == 0)
                .withColumn("value", F.col("value") * 2)
                .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
            )
        out = os.path.join(
            scratch_dir("cdc_topics"),
            f"{variant}_{abs(hash(sf_dir)) % 10**8:08d}",
        )
        write_cdc_json_files(synthesize_cdc_json_from_events(events), out)
        _TOPIC_CACHE[key] = out
    return _TOPIC_CACHE[key]


def _src_bytes(paths) -> int:
    total = 0
    for p in paths if isinstance(paths, (list, tuple)) else [paths]:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass
        else:
            try:
                total += os.path.getsize(p)
            except OSError:
                pass
    return total


def _scaled_state_partitions(spark, src) -> int:
    """Scale-adaptive STATE partition count for a fresh-checkpoint
    streaming query (round 13, guide §2: stateful operators cannot use
    AQE partition coalescing, so the shuffle-partition count must be
    derived from input size instead of pinned at the session default —
    the local core count, which buys nothing at fixture volumes while
    paying per-partition state-store instance + commit + task overhead
    every micro-batch; measured 9.3 s → 3.0 s on the stream-stream
    outer join at sf0.1). ceil(source bytes / 32 MB), floored at 4
    (per-partition stores below ~4 lose more to single-threaded
    stateful work than they save in instance overhead — measured), and
    capped at defaultParallelism, so at cluster scale the derivation
    saturates to the cluster's own parallelism and production behavior
    is unchanged. Override via SPARK_GRAFT_STREAM_STATE_BYTES_PER_PART
    (bytes per state partition)."""
    per_part = int(
        os.environ.get("SPARK_GRAFT_STREAM_STATE_BYTES_PER_PART", str(32 << 20))
    )
    cores = spark.sparkContext.defaultParallelism
    return min(cores, max(min(cores, 4), -(-_src_bytes(src) // per_part)))


def _memory_sink(df: DataFrame, output_mode: str, src=None) -> DataFrame:
    spark = df.sparkSession
    name = "q_" + uuid.uuid4().hex[:12]
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if src is not None:
        spark.conf.set(key, str(_scaled_state_partitions(spark, src)))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if src is not None:
            spark.conf.set(key, old)
    return spark.table(name)


def stream_window_agg_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1-A3 window aggregate under Structured Streaming.

    Same partials as the batch ``window_agg_5m`` (one groupBy over
    ``window(ts, '5 min')``), fed by a parquet file *stream*, complete
    output mode, finalized from the sink — the result must match the
    batch/DuckDB answer exactly, which is this query's oracle.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = trade_partials(events_as_trades(events_stream))
    res = _memory_sink(agg, "complete", src=os.path.join(sf_dir, "events.parquet"))
    return round_trade_agg(finalize_trade_agg(res, "market", "window_start", "window_end"))


def stream_cdc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC envelope parse running as a stream over JSON files.

    Oracle-gated: the streamed parse must equal the batch round-trip
    (same projection as ``cdc_roundtrip``).
    """
    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir))
    parsed = parse_cdc_events(raw)
    res = _memory_sink(parsed, "append")
    return res.select(
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


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on the natural key (W10, the INSERT IGNORE
    analog): a CDC stream carrying ~10% re-delivered events is
    deduplicated with streaming ``dropDuplicates`` state.

    Oracle-gated: per-op counts after dedup must equal the batch
    distinct counts DuckDB computes. (Production note: unbounded-key
    streams bound the state with ``dropDuplicatesWithinWatermark``;
    the fixture replay has no event-time watermark column ordering
    guarantee, so the exact-state form is used here.)
    """
    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir, "dupes"))
    deduped = parse_cdc_events(raw).dropDuplicates(["sequential_id"])
    res = _memory_sink(deduped, "append", src=_cdc_topic(spark, sf_dir, "dupes"))
    return res.groupBy("op").agg(F.count("*").alias("n"))


STREAM_DEDUP_COUNTS_SQL = """
SELECT CASE WHEN event_type = 'error' THEN 'd' ELSE 'c' END AS op,
       count(DISTINCT event_id) AS n
FROM events
GROUP BY 1
"""


def stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10 with bounded state: ``dropDuplicatesWithinWatermark`` — the
    production form for unbounded key spaces, where dedup state for a
    key can be evicted once the watermark passes it (exact-state
    ``dropDuplicates`` grows forever). The replayed fixture is finite
    and processed deterministically, so the result equals the batch
    distinct count — the oracle (shared with the exact-state twin).
    """
    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir, "dupes"))
    parsed = parse_cdc_events(raw).withColumn(
        "event_time", F.timestamp_millis(F.col("upbit_timestamp"))
    )
    deduped = parsed.withWatermark("event_time", "1 hour").dropDuplicatesWithinWatermark(
        ["sequential_id"]
    )
    res = _memory_sink(deduped, "append", src=_cdc_topic(spark, sf_dir, "dupes"))
    return res.groupBy("op").agg(F.count("*").alias("n"))


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization under Structured Streaming:
    ``session_window`` with watermark, complete output — merged session
    windows must equal the batch answer, which is this query's oracle
    (same as ``sessionize_native``)."""
    from cdc_realtime_pipeline_spark.operators.extended import SESSION_GAP_MIN
    from cdc_realtime_pipeline_spark.session import convert_ns_timestamps, raw_schema

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
    )
    res = _memory_sink(agg, "complete", src=os.path.join(sf_dir, "events.parquet"))
    return res.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        F.round("session_value", 4).alias("session_value"),
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the CDC stream enriched against a static
    broadcast dimension (per-tier thresholds) with a post-join filter —
    the standard streaming enrichment shape (dim re-read per
    micro-batch, fact side never shuffles). Oracle-gated: the static
    dim is deterministic, so the batch answer is identical.
    """
    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir))
    parsed = parse_cdc_events(raw)
    tiers = spark.createDataFrame(
        [(0, "hot", 400.0), (1, "warm", 300.0), (2, "cold", 200.0)],
        "tier int, tier_name string, min_price double",
    )
    enriched = (
        parsed.withColumn(
            "tier", (F.col("sequential_id") % 3).cast("int")
        )
        .join(F.broadcast(tiers), "tier")
        .filter(F.col("trade_price") >= F.col("min_price"))
    )
    res = _memory_sink(enriched, "append", src=_cdc_topic(spark, sf_dir))
    return res.select(
        "trade_id",
        "market",
        "tier_name",
        F.round("trade_price", 4).alias("trade_price"),
        "min_price",
    )


STREAM_STATIC_ENRICH_SQL = """
WITH tiers(tier, tier_name, min_price) AS (
  VALUES (0, 'hot', CAST(400 AS DOUBLE)),
         (1, 'warm', CAST(300 AS DOUBLE)),
         (2, 'cold', CAST(200 AS DOUBLE))
)
SELECT event_id AS trade_id,
       'M-' || CAST(user_id AS VARCHAR) AS market,
       tier_name,
       round(value, 4) AS trade_price,
       min_price
FROM events JOIN tiers ON CAST(event_id % 3 AS INTEGER) = tier
WHERE value >= min_price
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase joined to
    the same user's clicks in the preceding 10 minutes. Both sides
    carry watermarks and the join predicate bounds event-time distance,
    so the state store can evict — the canonical bounded-state
    stream-stream join. Finite deterministic input ⇒ oracle-gated
    against the identical batch range join.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
    )
    res = _memory_sink(joined, "append", src=os.path.join(sf_dir, "events.parquet"))
    return res.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("gap_s"),
    )


STREAM_STREAM_JOIN_SQL = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch(date_trunc('second', p.ts))::BIGINT
         - epoch(date_trunc('second', c.ts))::BIGINT AS gap_s
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — the outer twin of
    ``stream_stream_join``, pinning the part inner joins never
    exercise: **null-padded emission is watermark-gated**. An
    unmatched purchase can only be declared click-less once the
    global watermark passes its event time (its latest possible
    matching click has ``c_ts == p_ts``), so outer rows trail the
    matched rows by the watermark delay, and purchases inside the
    final watermark window are *never* emitted — state that is still
    open when the query stops is withheld, not null-flushed.

    The oracle encodes exactly that semantics: matched pairs are the
    plain batch range join; null rows are unmatched purchases with
    ``p_ts < W`` where ``W = min(max click ts, max purchase ts) − 10
    min`` — Spark's min-policy global watermark after the final
    batch. ``availableNow`` runs trailing no-data batches until
    stateful cleanup settles, so the final watermark does get applied
    before termination (without that, rows between the batch-1
    watermark and W would be withheld too, and the hash would
    mismatch — this row proves the no-data-batch eviction behavior).

    Scale posture: identical to the inner form — both sides keyed by
    user, state bounded by the 10-minute event-time range, RocksDB
    store; the outer pass adds no extra shuffle, only the eviction
    scan that emits the null side.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
        "leftOuter",
    )
    res = _memory_sink(joined, "append", src=os.path.join(sf_dir, "events.parquet"))
    return res.select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("gap_s"),
    )


def stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join — completes the
    outer-join family next to the inner and left-outer twins by
    pinning the RIGHT side's eviction semantics too: an unmatched
    click is declared purchase-less only once the global watermark
    passes the END of its match window (its latest possible matching
    purchase has ``p_ts == c_ts + 10 min``), while an unmatched
    purchase needs only ``p_ts < W`` (its window closes at its own
    event time). The two null-side conditions are ASYMMETRIC because
    the event-time constraint is — this row is what proves the state
    manager derives both from the one join predicate.

    Oracle: the batch range join UNION two watermark-gated anti-join
    legs, with ``W = min(max p_ts, max c_ts) − 10 min`` (Spark's
    min-policy global watermark after the final no-data batch).

    Scale posture: identical to the inner/left forms — user-keyed
    state bounded by the 10-minute event-time range either side.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    clicks = (
        events_stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        events_stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES")),
        "fullOuter",
    )
    res = _memory_sink(joined, "append", src=os.path.join(sf_dir, "events.parquet"))
    return res.select(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "purchase_id",
        "click_id",
        (F.col("p_ts").cast("long") - F.col("c_ts").cast("long")).alias("gap_s"),
    )


STREAM_STREAM_FULL_OUTER_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
wm AS (
  SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
         - INTERVAL 10 MINUTE AS w
)
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch(date_trunc('second', p.ts))::BIGINT
         - epoch(date_trunc('second', c.ts))::BIGINT AS gap_s
FROM p
JOIN c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
UNION ALL
SELECT p.user_id, p.event_id, NULL, NULL
FROM p, wm
WHERE p.ts < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL 10 MINUTE
  )
UNION ALL
SELECT c.user_id, NULL, c.event_id, NULL
FROM c, wm
WHERE c.ts + INTERVAL 10 MINUTE < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM p
    WHERE p.user_id = c.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL 10 MINUTE
  )
"""


STREAM_STREAM_LEFT_OUTER_SQL = """
WITH p AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
),
wm AS (
  SELECT least((SELECT max(ts) FROM p), (SELECT max(ts) FROM c))
         - INTERVAL 10 MINUTE AS w
)
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch(date_trunc('second', p.ts))::BIGINT
         - epoch(date_trunc('second', c.ts))::BIGINT AS gap_s
FROM p
JOIN c
  ON p.user_id = c.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
UNION ALL
SELECT p.user_id, p.event_id, NULL, NULL
FROM p, wm
WHERE p.ts < wm.w
  AND NOT EXISTS (
    SELECT 1 FROM c
    WHERE c.user_id = p.user_id
      AND c.ts <= p.ts
      AND c.ts >= p.ts - INTERVAL 10 MINUTE
  )
"""


def stream_merged_trade_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read-once multi-sink fan-out, end-to-end and oracle-gated
    (W7 + A8): synthesized CDC stream → ``run_cdc_fanout`` (raw sink +
    per-batch window-agg partial sink via one foreachBatch) → merge-at-
    read of the partials. The merged aggregate must equal the batch
    window aggregate DuckDB computes directly from ``events`` — partials
    are re-mergeable (sums/counts/min/max; avg from sum+count), so
    batch boundaries can't change the answer.

    Event time rides ``timestamp_millis(upbit_timestamp)`` (ms
    precision), so the oracle buckets on ms-truncated epoch too.
    """
    import os
    import tempfile

    from cdc_realtime_pipeline_spark.streaming.job import (
        read_merged_trade_agg,
        run_cdc_fanout,
    )

    base = tempfile.mkdtemp(prefix="cdc_fanout_q_")  # sinks/ckpt: fresh per run
    run_cdc_fanout(
        spark,
        _cdc_topic(spark, sf_dir),
        os.path.join(base, "out"),
        os.path.join(base, "ckpt"),
        synchronous=True,
    )
    return round_trade_agg(read_merged_trade_agg(spark, os.path.join(base, "out")))


STREAM_MERGED_TRADE_AGG_SQL = """
WITH ev AS (
  SELECT 'M-' || CAST(user_id AS VARCHAR) AS market,
         CAST(floor(epoch_ms(ts) / 300000) * 300 AS BIGINT) AS ws,
         value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume,
         event_type IN ('click','purchase') AS is_bid,
         value * CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount
  FROM events
)
SELECT market,
       make_timestamp(ws * 1000000) AS window_start,
       make_timestamp((ws + 300) * 1000000) AS window_end,
       count(*) AS trade_count,
       count(CASE WHEN is_bid THEN 1 END) AS bid_count,
       count(*) - count(CASE WHEN is_bid THEN 1 END) AS ask_count,
       round(sum(amount) + 1e-9, 4) AS total_amount,
       round(sum(volume) + 1e-9, 4) AS total_volume,
       round(sum(price) / count(*) + 1e-9, 4) AS avg_price,
       round(min(price) + 1e-9, 4) AS min_price,
       round(max(price) + 1e-9, 4) AS max_price,
       round(CASE WHEN round(sum(volume) + 1e-9, 4) > 0
                  THEN round(sum(amount) + 1e-9, 4) / round(sum(volume) + 1e-9, 4)
                  ELSE 0.0 END + 1e-9, 4) AS vwap
FROM ev
GROUP BY market, ws
"""


# the detector's memory-sink table per sf_dir: the full stateful run
# costs ~8 s, and two registered queries consume it (the rows-only
# alert stream and its oracle-gated rule-count twin) — one streaming
# execution per session serves both
_ALERTS_CACHE: dict[str, DataFrame] = {}


def stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful anomaly detector over the synthesized CDC stream.

    Rows-only driver check (per-key sequential state semantics are not
    SQL-expressible row-for-row; the per-rule counts + id checksum ARE
    oracle-gated via ``stream_anomaly_rule_counts``);
    tests/test_streaming.py asserts rule-level equivalence against
    hand-computed fixtures.
    """
    if sf_dir not in _ALERTS_CACHE:
        raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir))
        parsed = parse_cdc_events(raw)
        alerts = apply_anomaly_detector(parsed)
        _ALERTS_CACHE[sf_dir] = _memory_sink(alerts, "append", src=_cdc_topic(spark, sf_dir))
    return _ALERTS_CACHE[sf_dir]


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the reference pipeline's end state (a
    continuously-maintained current-rows table) as a streaming job: the
    change log streams through ``foreachBatch``, each micro-batch
    appends its changes to the materialized store, and the read side
    resolves the latest version per key (rank on (cdc_ts,
    sequential_id)) and drops deleted keys — apply-at-read, exactly the
    MERGE-INTO emulation the batch ``cdc_apply_changes`` uses, and
    gated against that query's oracle. On Delta/Iceberg the foreachBatch
    body becomes a real MERGE and the read side loses the window.
    """
    import os

    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir, "apply"))
    parsed = parse_cdc_events(raw)
    store = os.path.join(
        scratch_dir("cdc_apply_store"),
        f"{abs(hash(sf_dir)) % 10**8:08d}",
        uuid.uuid4().hex[:8],  # fresh store per run: appends accumulate
    )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(store)

    q = (
        parsed.writeStream.foreachBatch(_append)
        .option("checkpointLocation", store + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = spark.read.parquet(store)
    # latest-version-per-key via map-side-reducing max_by instead of a
    # rank window (round 13) — same winner (generator guarantees one
    # op per key per (cdc_ts, seq) position), mirrors the batch
    # cdc_apply_changes plan it is oracle-gated against
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


def stream_docs_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus INGEST gate — the curation funnel's front
    stages run as documents arrive (file-stream parquet source):
    declared-lang + length gate, then streaming exact-dedup on
    (source, content_hash) with ``dropDuplicates`` state, then
    per-source audit counts.

    Dedup keys on (source, content_hash) — not content alone — so the
    per-source counts are deterministic regardless of which replica
    arrives first across sources. The audit carries a ``bit_xor`` of
    the surviving content-hash int64s: order- and survivor-insensitive,
    overflow-free, and it pins WHICH contents survived, not just how
    many. Oracle: the batch equivalent over the same table.
    """
    import os

    from cdc_realtime_pipeline_spark.operators.dedup import _hash64, normalize_text

    path = os.path.join(sf_dir, "documents.parquet")
    # the file-stream source requires a DIRECTORY; expose the fixture
    # file through a per-session scratch dir via symlink (no copy)
    d = os.path.join(
        scratch_dir("docs_stream"), f"{abs(hash(sf_dir)) % 10**8:08d}"
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    sch = spark.read.parquet(path).schema
    raw = spark.readStream.schema(sch).parquet(d)
    gated = raw.filter(
        F.col("lang").isin("en", "de", "es") & F.col("n_chars").between(100, 10000)
    ).select(
        "source",
        F.md5(normalize_text(F.col("text"))).alias("content_hash"),
    )
    deduped = gated.dropDuplicates(["source", "content_hash"])
    res = _memory_sink(deduped, "append", src=d)
    return (
        res.withColumn("h", _hash64(F.col("content_hash"), 23))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_unique_docs"),
            F.expr("bit_xor(h)").alias("content_checksum"),
        )
        .orderBy("source")
    )


def stream_anomaly_rule_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule alert counts + trade-id checksum from the REAL
    streaming detector run — the oracle-gated twin of
    ``stream_anomaly_alerts`` (VERDICT r2 #4).

    The detector itself (per-key sequential state) isn't a SQL
    expression, but its OUTPUT over a finite deterministic stream is:
    the oracle below replays the four rules' exact recurrences
    (AnomalyDetector.java:107-175 semantics) over the same CDC insert
    domain with window functions and a recursive-CTE reset walk,
    ordered by ``sequential_id`` exactly as the detector sorts.
    ``id_sum`` (sum of firing trade_ids) makes the check sensitive to
    WHICH alerts fire, not just how many — integer-exact, no float
    comparison risk.
    """
    alerts = stream_anomaly_alerts(spark, sf_dir)
    return (
        alerts.groupBy("alert_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("trade_id").alias("id_sum"),
        )
        .orderBy("alert_type")
    )


# stream_window_agg_5m shares the batch window-agg oracle;
# stream_cdc_parse shares the batch round-trip oracle.
from cdc_realtime_pipeline_spark.operators.anomaly import (  # noqa: E402
    _EMA_ALPHA,
    _LARGE_DEFAULT,
    _LARGE_T0,
    _LARGE_T1,
    _RAPID_COUNT,
    _RAPID_WINDOW_MS,
    _SPIKE_DEFAULT,
    _SPIKE_T0,
    _SURGE_MIN_SAMPLES,
    _SURGE_MULT,
)
from cdc_realtime_pipeline_spark.operators.cdc_ops import (  # noqa: E402
    CDC_APPLY_CHANGES_SQL,
    CDC_ROUNDTRIP_SQL,
    CDC_SCD2_HISTORY_SQL,
)
from cdc_realtime_pipeline_spark.operators.extended import (  # noqa: E402
    CEP_FUNNEL_SEQUENCE_SQL,
    SESSIONIZE_NATIVE_SQL,
)

# Oracle for stream_docs_quality_gate: batch equivalent of the
# streamed gate + (source, content)-keyed dedup + audit. The md5→int64
# derivation matches dedup._hash64 (salt 23).
def stream_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark-decontamination gate: documents are checked
    against the held-out eval set AS THEY ARRIVE (file-stream source →
    map-side shingling → stream-static join against the broadcast
    benchmark shingle set), so contaminated docs are flagged at ingest
    instead of by a later batch sweep — the streaming twin of
    ``decontaminate_vs_benchmark``, sharing its oracle (over a finite
    deterministic stream the answers must be identical).

    Scale shape: the benchmark relation is small by nature and static
    — broadcast once, never rebuilt per micro-batch; the stream side
    is stateless (shingle explode + broadcast join, no watermark, no
    state store), so throughput is scan-bound. The per-doc aggregation
    happens on the (tiny, hits-only) sink output, exactly where the
    batch operator aggregates.
    """
    import os

    from cdc_realtime_pipeline_spark.operators.curation import (
        _BENCH_MOD,
        _CONTAM_MIN_SHARED,
        _all_shingles,
    )

    path = os.path.join(sf_dir, "documents.parquet")
    d = os.path.join(
        scratch_dir("decon_stream"), f"{abs(hash(sf_dir)) % 10**8:08d}"
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    bench = (
        _all_shingles(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % _BENCH_MOD == 0
            )
        )
        .distinct()
        .select(F.col("doc_id").alias("bench_doc"), "shingle")
    )
    sch = spark.read.parquet(path).schema
    raw = spark.readStream.schema(sch).parquet(d)
    train = _all_shingles(raw.filter(F.col("doc_id") % _BENCH_MOD != 0))
    hits = train.join(F.broadcast(bench), "shingle")
    res = _memory_sink(hits, "append", src=d)
    return (
        res.groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_shingles") >= _CONTAM_MIN_SHARED)
        .orderBy("doc_id")
    )


STREAM_DOCS_QUALITY_GATE_SQL = """
WITH gated AS (
  SELECT source,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                 '\\s+', ' ', 'g'))) AS content_hash
  FROM documents
  WHERE lang IN ('en', 'de', 'es') AND n_chars BETWEEN 100 AND 10000
),
ded AS (SELECT DISTINCT source, content_hash FROM gated)
SELECT source,
       count(*) AS n_unique_docs,
       bit_xor(('0x' || substr(md5('s23:' || content_hash), 1, 15))::BIGINT)
         AS content_checksum
FROM ded GROUP BY source ORDER BY source
"""


# Oracle for stream_anomaly_rule_counts: replay the detector's per-key
# sequential loop (anomaly_stateful.detect_anomalies_batch_of_key) as
# ONE recursive-CTE walk over the CDC insert domain (event_type <>
# 'error' rows become op='c'; field mapping = synthesize_cdc_json_from
# _events). The walk carries the exact state tuple the detector keeps —
# prev_price, ema (updated e ← (1−α)e + αv in the SAME operation order,
# so floats agree bit-for-bit), reset-on-expiry window counter — and
# each rule's firing condition is read off the walked state. Ordered by
# sequential_id (= event_id) per market, exactly as the detector sorts.
STREAM_ANOMALY_RULE_COUNTS_SQL = f"""
WITH RECURSIVE ins AS (
  SELECT user_id,
         event_id,
         value AS price,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS vol,
         value * CAST(json_extract_string(props, '$.k') AS DOUBLE) AS amount,
         epoch_ms(ts) AS tms,
         CAST(CASE WHEN user_id % 3 = 0 THEN {_LARGE_T0}
                   WHEN user_id % 3 = 1 THEN {_LARGE_T1}
                   ELSE {_LARGE_DEFAULT} END AS DOUBLE) AS large_theta,
         CAST(CASE WHEN user_id % 3 = 0 THEN {_SPIKE_T0}
                   ELSE {_SPIKE_DEFAULT} END AS DOUBLE) AS spike_theta,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
  WHERE event_type <> 'error'
),
walk AS (
  SELECT user_id, event_id, price, vol, tms, rn, spike_theta,
         CAST(NULL AS DOUBLE) AS prev_price,
         CAST(NULL AS DOUBLE) AS ema_prev,
         vol AS ema,
         tms AS win_start,
         1 AS cnt
  FROM ins WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.event_id, e.price, e.vol, e.tms, e.rn, e.spike_theta,
         w.price,
         w.ema,
         (1 - {_EMA_ALPHA}) * w.ema + {_EMA_ALPHA} * e.vol,
         CASE WHEN e.tms - w.win_start > {_RAPID_WINDOW_MS} THEN e.tms
              ELSE w.win_start END,
         CASE WHEN e.tms - w.win_start > {_RAPID_WINDOW_MS} THEN 1
              ELSE w.cnt + 1 END
  FROM ins e JOIN walk w ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT alert_type, count(*) AS n, CAST(sum(trade_id) AS BIGINT) AS id_sum
FROM (
  SELECT 'LARGE_TRADE' AS alert_type, event_id AS trade_id
  FROM ins WHERE amount >= large_theta
  UNION ALL
  SELECT 'PRICE_SPIKE', event_id FROM walk
  WHERE prev_price > 0 AND abs(price - prev_price) / prev_price >= spike_theta
  UNION ALL
  SELECT 'VOLUME_SURGE', event_id FROM walk
  WHERE rn > {_SURGE_MIN_SAMPLES} AND ema_prev > 0
    AND vol >= {_SURGE_MULT} * ema_prev
  UNION ALL
  SELECT 'RAPID_TRADES', event_id FROM walk WHERE cnt = {_RAPID_COUNT}
) GROUP BY 1 ORDER BY 1
"""

def stream_ohlc_bars_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars under Structured Streaming.

    Same single ``groupBy(window, key)`` plan as the batch
    ``ohlc_bars_5m`` (timeseries.py) — ``min_by``/``max_by`` carry
    open/close through the streaming state store's partial merges just
    as they ride batch map-side combine, so the finite-stream result
    must equal the batch/DuckDB answer exactly (shared oracle).
    """
    from cdc_realtime_pipeline_spark.operators.timeseries import _r4, ohlc_bars

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = events_stream.select(
        "ts",
        "event_id",
        F.col("user_id").alias("market"),
        F.col("value").alias("price"),
    )
    out = _memory_sink(ohlc_bars(ev), "complete", src=os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "market",
        "bar_start",
        _r4(F.col("open")).alias("open"),
        _r4(F.col("high")).alias("high"),
        _r4(F.col("low")).alias("low"),
        _r4(F.col("close")).alias("close"),
        "n_ticks",
    )


def stream_value_drift_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-data drift monitor as a streaming job: live events bin
    against a STATIC reference profile (bounds + early-half shares,
    computed batch-side and broadcast), the stream aggregates late-half
    bin counts, and PSI finalizes at the sink read.

    The production shape: the reference window is a static artifact
    (yesterday's profile); only the live half flows through the
    stream — a stream-static broadcast join plus one streaming agg on
    (event_type, bin), so state is |types|×|bins| rows regardless of
    stream volume. Bins the live half never hits are restored by a
    full-outer join with the static profile at finalize (they carry
    early mass and must count toward PSI). Shares the batch
    ``value_distribution_psi`` oracle: over this finite stream the
    live half IS the late half.
    """
    from cdc_realtime_pipeline_spark.operators.dq import _PSI_BINS, _PSI_EPS

    ev_batch = load_table(spark, sf_dir, "events").select(
        "event_type", "value", F.unix_micros("ts").alias("us")
    )
    bounds = ev_batch.agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.min("us").alias("tmin"),
        F.max("us").alias("tmax"),
    )
    # same degenerate-range guard as the batch query (dq.py)
    bin_expr = F.least(
        F.lit(_PSI_BINS - 1),
        F.floor(
            (F.col("value") - F.col("vmin"))
            / F.greatest((F.col("vmax") - F.col("vmin")) / _PSI_BINS, F.lit(1e-12))
        ).cast("int"),
    ).alias("bin")
    early_counts = (
        ev_batch.crossJoin(F.broadcast(bounds))
        .filter(F.col("us") * 2 < F.col("tmin") + F.col("tmax"))
        .select("event_type", bin_expr)
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n_early"))
    )

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    ).select("event_type", "value", F.unix_micros("ts").alias("us"))
    late_counts = (
        events_stream.crossJoin(F.broadcast(bounds))
        .filter(F.col("us") * 2 >= F.col("tmin") + F.col("tmax"))
        .select("event_type", bin_expr)
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n_late"))
    )
    live = _memory_sink(late_counts, "complete", src=os.path.join(sf_dir, "events.parquet"))

    merged = early_counts.join(live, ["event_type", "bin"], "full_outer").select(
        "event_type",
        F.coalesce("n_early", F.lit(0)).alias("n_early"),
        F.coalesce("n_late", F.lit(0)).alias("n_late"),
    )
    totals = merged.groupBy("event_type").agg(
        F.sum("n_early").alias("tot_early"),
        F.sum("n_late").alias("tot_late"),
    )
    # mirrors the batch operator exactly (see dq.py — ADVICE r3 #1/#2):
    # eps only inside the ln ratio, NULL psi gates to 0 like the CASE
    diff = F.col("n_early") / F.col("tot_early") - F.col("n_late") / F.col("tot_late")
    p = F.col("n_early") / F.col("tot_early") + _PSI_EPS
    q = F.col("n_late") / F.col("tot_late") + _PSI_EPS
    psi = (
        merged.join(totals, "event_type")
        .select("event_type", (diff * F.log(p / q)).alias("term"))
        .groupBy("event_type")
        .agg(F.round(F.sum("term") + 1e-9, 6).alias("psi"))
    )
    return psi.select(
        "event_type",
        "psi",
        F.when(F.col("psi") >= 0.2, 1).otherwise(0).alias("drift_flag"),
    )


def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM drift monitor as a streaming job: the corpus-scale
    term — per-(type, hour) mean pre-aggregation — runs under
    Structured Streaming (state is |types|×|hours| rows regardless of
    stream volume, the stream_value_drift_gate discipline), and the
    calendar-bounded per-key fold finalizes at the sink read via the
    SAME ``cusum_from_hourly`` the batch operator runs. Over this
    finite deterministic stream the output equals
    ``events_cusum_changepoint`` exactly, so it shares that oracle —
    a fully oracle-gated stateful streaming row, not a rows-only one.
    """
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        cusum_from_hourly,
    )

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    hourly_s = events_stream.groupBy(
        F.col("event_type"),
        F.expr("unix_micros(ts) div 3600000000").alias("hb"),
    ).agg((F.round(F.avg("value") + 1e-9, 6) + 0.0).alias("x"))
    live = _memory_sink(hourly_s, "complete", src=os.path.join(sf_dir, "events.parquet"))
    # the fold self-joins its input (stats ⋈ series); reading the
    # memory sink twice reuses ONE set of attribute ids and Spark 4's
    # analyzer rejects the join ("Conflicting attributes") —
    # localCheckpoint rewrites the bounded |types|×|hours| relation as
    # a LogicalRDD with fresh ids (and severs the streaming lineage)
    return cusum_from_hourly(live.localCheckpoint())


def stream_sprt_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT as a streaming monitor — the sequential test run
    the way it is meant to be run: the stream maintains the
    per-(type, hour) counts (complete-mode state, |types|×|hours|
    rows regardless of volume — the cusum-alarm discipline) and the
    boundary-crossing fold finalizes at the sink read via the SAME
    ``sprt_from_hourly`` the batch operator uses. Over this finite
    deterministic stream the output equals ``events_sprt_monitor``
    exactly, so it shares that oracle — a fully oracle-gated stateful
    streaming row.
    """
    from cdc_realtime_pipeline_spark.operators.inference import (
        sprt_from_hourly,
    )

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    hourly_s = events_stream.groupBy(
        F.col("event_type"),
        F.expr("unix_micros(ts) div 3600000000").alias("hb"),
    ).agg(F.count("*").alias("n_t"))
    live = _memory_sink(hourly_s, "complete", src=os.path.join(sf_dir, "events.parquet"))
    # the fold joins its input against its own aggregates (totals,
    # base) — localCheckpoint gives the bounded relation fresh
    # attribute ids (the stream_cusum_alarm idiom)
    return sprt_from_hourly(live.localCheckpoint())


def stream_open_interval_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sweep-line open-interval analytic under streaming: the
    stream of ORDERS (not events — the second table to get a
    streaming reader) projects each row to its +1/−1 sweep deltas
    statelessly, maintains the per-DAY delta aggregate as
    complete-mode state (|days| rows regardless of volume), and the
    calendar cumulative fold runs at the sink read via the SAME
    ``depth_from_daily`` as the batch operator — shared oracle, the
    cusum/sprt pair discipline.
    """
    from cdc_realtime_pipeline_spark.operators.temporal import (
        depth_from_daily,
        interval_deltas,
    )

    orders_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "orders"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "orders.parquet")
        .parquet(sf_dir)
    )
    daily_s = interval_deltas(orders_stream).groupBy("d").agg(
        F.sum("delta").cast("long").alias("net"),
        F.count_if(F.col("delta") == 1).cast("long").alias("n_opened"),
    )
    live = _memory_sink(daily_s, "complete", src=os.path.join(sf_dir, "orders.parquet"))
    return depth_from_daily(live.localCheckpoint())


def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-K under streaming: per 1-hour event-time window,
    the 3 most frequent event_types with their counts and ranks — the
    live "what's trending" board every event pipeline serves.

    Streaming aggregations cannot host rank windows (no ordering over
    an unbounded result), so the operator splits exactly where a
    production job would: the STREAM maintains the (window, type)
    counts — mergeable state, complete mode — and the rank runs at
    read over the sink, which is |windows|×|types| rows regardless of
    input volume. Ties (equal counts) break on event_type so the
    board is deterministic. Oracle: the batch twin over the same
    finite input.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    agg = events_stream.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    res = _memory_sink(agg, "complete", src=os.path.join(sf_dir, "events.parquet"))
    from pyspark.sql.window import Window as _W

    rk = F.row_number().over(
        _W.partitionBy("w").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        res.withColumn("rk", rk)
        .filter(F.col("rk") <= 3)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("window_start", "rk")
    )


STREAM_TOPK_PER_WINDOW_SQL = """
WITH counts AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, event_type ASC) AS rk
  FROM counts
)
SELECT window_start, event_type, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3 ORDER BY window_start, rk
"""


def stream_daily_users_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT streaming distinct via bitmap partials in stream state —
    the streaming twin of ``daily_users_bitmap_rollup``: the stateful
    aggregate keeps one 32 Ki-bit bitmap per (day, bucket) in the
    state store (``bitmap_construct_agg`` is a typed declarative
    aggregate, so its binary buffer merges map-side AND in state like
    any sum), and the at-read rollup ORs the partials into exact
    per-day DAU. Complete mode over the finite file stream must equal
    the batch count-distinct — the oracle. At 100 TB/day the state per
    day is (buckets × 4 KiB), independent of event volume: the
    mergeable-partial property is what lets an exact distinct survive
    as STREAM state where a raw user-id set would not.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    daily = (
        events_stream.select(
            F.date_trunc("day", "ts").alias("day"),
            (F.col("user_id") + 1).alias("uid"),
        )
        .groupBy("day", F.expr("bitmap_bucket_number(uid)").alias("bkt"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(uid))").alias("bm"))
    )
    partials = _memory_sink(daily, "complete", src=os.path.join(sf_dir, "events.parquet"))
    return (
        partials.groupBy("day")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("dau_exact"))
        .orderBy("day")
    )


STREAM_DAILY_USERS_BITMAP_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(DISTINCT user_id) AS dau_exact
FROM events GROUP BY 1 ORDER BY 1
"""




def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance — the dimension-HISTORY twin of
    `stream_cdc_apply`: the same change log streams through
    ``foreachBatch`` appends into the version store, and the read side
    closes validity intervals with a lead window per key — every
    non-delete change is a version row (valid_from/valid_to/
    is_current), a trailing delete closes the key's last interval.
    Gated against the batch `cdc_scd2_history` oracle (identical log
    synthesis: base ∪ every-5th replayed at +1 h with doubled price).

    On Delta/Iceberg the foreachBatch body becomes the classic SCD2
    MERGE (match on key + is_current → expire, insert new version);
    apply-at-read keeps the store append-only here, which is also the
    honest shape at 100 TB — closing intervals at read is one keyed
    window over versions-per-key (small), while closing them at write
    rewrites files on every batch.
    """
    import os

    from pyspark.sql.window import Window

    raw = spark.readStream.format("text").load(_cdc_topic(spark, sf_dir, "apply"))
    parsed = parse_cdc_events(raw)
    store = os.path.join(
        scratch_dir("cdc_scd2_store"),
        f"{abs(hash(sf_dir)) % 10**8:08d}",
        uuid.uuid4().hex[:8],
    )

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(store)

    q = (
        parsed.writeStream.foreachBatch(_append)
        .option("checkpointLocation", store + "_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    log = spark.read.parquet(store)
    w = Window.partitionBy("trade_id").orderBy("cdc_ts", "sequential_id")
    versions = log.withColumn("valid_to_ms", F.lead("cdc_ts").over(w))
    return versions.filter(F.col("op") != "d").select(
        "trade_id",
        "market",
        F.round("trade_price", 4).alias("trade_price"),
        F.col("cdc_ts").alias("valid_from_ms"),
        "valid_to_ms",
        F.col("valid_to_ms").isNull().alias("is_current"),
    )


def cdc_python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC round-trip THROUGH the Spark-4 Python DataSource
    connector (`sources/cdc_python_datasource.py`): register the
    custom ``cdc_envelope`` format, read the topic directory under the
    Kafka message contract (value/source_file/partition/offset), and
    run the UNCHANGED parse path on ``value``. Shares
    ``cdc_roundtrip``'s oracle — the bespoke-transport leg must
    produce byte-identical parsed rows to the JVM text-source leg,
    which is the whole point of the connector seam (swap the
    transport, never the semantics). The partition/offset contract
    itself is pinned in tests (dense offsets per file, one partition
    per topic file)."""
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register

    register(spark)
    raw = (
        spark.read.format("cdc_envelope")
        .option("path", _cdc_topic(spark, sf_dir, "plain"))
        .load()
    )
    parsed = parse_cdc_events(raw.select("value"))
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


def stream_cdc_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC parse as a STREAM over the custom Python DataSource —
    the full Kafka-consumer emulation this image can run: the
    ``cdc_envelope`` format's SimpleDataSourceStreamReader tracks a
    replayable files-consumed offset in the query's offset log
    (consumer-group position), availableNow drains to the latest
    offset, and the unchanged parse path runs on ``value``. Third
    oracle-sharing leg of the round-trip: JVM batch text
    (`cdc_roundtrip`), JVM text stream (`stream_cdc_parse`), and this
    bespoke-connector stream must all hash identically."""
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register

    register(spark)
    topic = _cdc_topic(spark, sf_dir, "plain")
    raw = (
        spark.readStream.format("cdc_envelope")
        .option("path", topic)
        .load()
    )
    # the SimpleDataSourceStreamReader materializes rows driver-side
    # (its API contract — the documented structural exception), which
    # leaves the downstream from_json parse on ONE partition. Spread
    # the parse before paying it (round 13, guide §2): partition count
    # derived from source bytes exactly like _scaled_state_partitions,
    # so production behavior saturates to the cluster's parallelism.
    par = min(
        spark.sparkContext.defaultParallelism,
        max(4, -(-_src_bytes(topic) // (32 << 20))),
    )
    parsed = parse_cdc_events(raw.select("value").repartition(par))
    res = _memory_sink(parsed, "append", src=topic)
    return res.select(
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


def cdc_python_datasource_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Full connector-seam round-trip: the envelope stream is WRITTEN
    through the custom sink (`CdcEnvelopeWriter` — task-temp files +
    driver-side commit rename, the transactional protocol every Spark
    sink implements; a failed task never leaves readable output), then
    read back through the connector's own batch reader and parsed.
    Shares ``cdc_roundtrip``'s oracle: write → read → parse must be
    lossless through the bespoke transport in BOTH directions. The
    commit/abort protocol itself is pytest-pinned (no visible output
    before commit; abort removes staging)."""
    import os

    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register

    register(spark)
    out = os.path.join(
        scratch_dir("cdc_pyds_sink"), f"{abs(hash(sf_dir)) % 10**8:08d}"
    )
    events = load_table(spark, sf_dir, "events")
    # write-task parallelism tracks the events SCAN partitioning, which
    # at fixture scale is 1-2 parquet splits — the JSON encode and the
    # Python sink then run on 1-2 of 32 cores (round 13, guide §2).
    # Round-robin repartition up to the session parallelism ONLY when
    # the scan is narrower; at cluster scale the scan already saturates
    # and the gate is a no-op (scale-adaptive, not a local[32] constant).
    par = spark.sparkContext.defaultParallelism
    if events.rdd.getNumPartitions() < par:
        events = events.repartition(par)
    synthesize_cdc_json_from_events(events).write.format("cdc_envelope").mode(
        "overwrite"
    ).option("path", out).save()
    raw = spark.read.format("cdc_envelope").option("path", out).load()
    parsed = parse_cdc_events(raw.select("value"))
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


def cep_triples_of_key(pdf, st: dict):
    """Pure per-key CEP step (pandas in, matches + new state out) —
    strict-contiguity view→click→purchase within 24 h, the exact
    semantics of the batch lag-chain. State carries the last TWO
    events of the key's ordered stream so a pattern spanning a
    micro-batch boundary still fires; that 2-tuple is the entire
    per-key state (pattern length − 1), the CEP state-size invariant
    Flink's NFA runtime shares."""
    matches: list[dict] = []
    pdf = pdf.sort_values(["ts_s", "event_id"])
    prev = list(st.get("prev", []))
    for row in pdf.itertuples(index=False):
        cur = (str(row.event_type), int(row.ts_s), int(row.event_id))
        if len(prev) == 2:
            (e1, t1, id1), (e2, _t2, _id2) = prev
            if (
                e1 == "view"
                and e2 == "click"
                and cur[0] == "purchase"
                and cur[1] - t1 <= 86400
            ):
                matches.append(
                    dict(
                        user_id=int(row.user_id),
                        view_id=id1,
                        purchase_id=cur[2],
                        span_s=cur[1] - t1,
                    )
                )
        prev = (prev + [cur])[-2:]
    st["prev"] = prev
    return matches, st


_CEP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("view_id", T.LongType()),
        T.StructField("purchase_id", T.LongType()),
        T.StructField("span_s", T.LongType()),
    ]
)

# last two events of the key's stream: (type, ts_s, event_id) × 2,
# flattened (NULLs when fewer than two seen)
_CEP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("e1_type", T.StringType()),
        T.StructField("e1_ts", T.LongType()),
        T.StructField("e1_id", T.LongType()),
        T.StructField("e2_type", T.StringType()),
        T.StructField("e2_ts", T.LongType()),
        T.StructField("e2_id", T.LongType()),
    ]
)


def stream_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern detection as a STREAMING stateful operator — the
    runtime form of `cep_funnel_sequence` (Flink CEP's
    ``begin('view').next('click').next('purchase').within(24h)``):
    ``groupBy(user).applyInPandasWithState`` where the per-key state
    is just the last two events (pattern length − 1 — the NFA
    state-size invariant), so a triple spanning a micro-batch
    boundary still fires. Shares the batch lag-chain's DuckDB oracle:
    the streaming NFA walk and the declarative window chain must
    produce the identical match set — the strongest check a
    sequential streaming operator can get.

    Per-key ordering: within a micro-batch the key's rows are sorted
    by (ts, event_id) before the walk (the same SURVEY §4 NEEDS-CARE
    discipline as the anomaly detector); across batches the
    availableNow file stream delivers in file order, monotone here.

    Scale: state is O(2 events × #users) in RocksDB regardless of
    stream length; throughput is Arrow-batched per key. The batch twin
    stays the backfill path — this is the tail path of the classic
    lambda split.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ev = events_stream.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("ts_s"),
    )

    def _walk(key, pdfs, state) -> "Iterator[pd.DataFrame]":
        import pandas as pd

        if state.exists:
            e1t, e1s, e1i, e2t, e2s, e2i = state.get
            prev = [(e1t, e1s, e1i), (e2t, e2s, e2i)]
            prev = [p for p in prev if p[0] is not None]
        else:
            prev = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        matches, st = cep_triples_of_key(pdf, {"prev": prev})
        p = st["prev"]
        flat = (list(p) + [(None, None, None)] * 2)[:2]
        state.update(tuple(flat[0]) + tuple(flat[1]))
        if matches:
            yield pd.DataFrame(matches)

    hits = ev.groupBy("user_id").applyInPandasWithState(
        _walk,
        outputStructType=_CEP_OUT_SCHEMA,
        stateStructType=_CEP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _memory_sink(hits, "append", src=os.path.join(sf_dir, "events.parquet")).orderBy("user_id", "purchase_id")


def stream_window_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming time-window rollup (1 min → 5 min) — TWO
    stateful window aggregates in ONE streaming query, the Spark 3.4+
    multi-stateful-operator capability (``window(col("w1"), ...)``
    accepts a window column, carrying event-time through the chain).
    This is the production tiered-rollup shape: fine windows absorb
    the raw event rate near the source, the coarse tier aggregates
    the already-reduced stream — the second stage's input is bounded
    by the window grid, not the event rate, which is what makes
    multi-resolution dashboards affordable at 100 TB/day (the batch
    analog is ``window_agg_1h_rollup``; this row proves the streaming
    runtime preserves the same semantics).

    Chained aggregates require APPEND mode + watermark (complete mode
    forbids multiple stateful operators), so finalized windows emit
    only once the 10-min watermark passes their end: the oracle
    applies exactly that gate — 5-min windows whose end ≤ max(ts) −
    10 min — the same closed-form final-watermark contract the
    stream_stream_left_outer row pins. n_subwindows counts the
    NON-EMPTY 1-min windows feeding each 5-min window (sparse grids
    make this < 5), pinning that the chain aggregates the fine
    windows themselves, not re-scanned raw events.
    """
    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    w1 = (
        events_stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w1"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
    )
    w5 = (
        w1.groupBy(F.window(F.col("w1"), "5 minutes").alias("w5"), "event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.count("*").alias("n_subwindows"),
            F.sum("v").alias("total_value"),
        )
    )
    res = _memory_sink(w5, "append", src=os.path.join(sf_dir, "events.parquet"))
    return res.select(
        "event_type",
        F.col("w5.start").alias("window_start"),
        "n_subwindows",
        "n_events",
        F.round(F.col("total_value") + 1e-9, 4).alias("total_value"),
    ).orderBy("event_type", "window_start")


STREAM_WINDOW_CHAIN_SQL = """
WITH mx AS (SELECT max(ts) AS mts FROM events),
b1 AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 60) * 60 AS BIGINT) AS w1s,
         count(*) AS n, sum(value) AS v
  FROM events GROUP BY event_type, w1s
),
b5 AS (
  SELECT event_type,
         make_timestamp(CAST(floor(w1s / 300) * 300 AS BIGINT) * 1000000)
           AS window_start,
         CAST(sum(n) AS BIGINT) AS n_events,
         count(*) AS n_subwindows,
         sum(v) AS tv
  FROM b1 GROUP BY event_type, window_start
)
SELECT event_type, window_start, n_subwindows, n_events,
       round(tv + 1e-9, 4) AS total_value
FROM b5 CROSS JOIN mx
WHERE window_start + INTERVAL 5 MINUTE <= mts - INTERVAL 10 MINUTE
ORDER BY event_type, window_start
"""


def stream_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count–min sketch maintained AS STREAM STATE — the streaming
    twin of ``events_countmin_audit``'s build stage: the d-way hash
    fan-out is a stateless projection on the stream, and the stateful
    aggregate keeps exactly {D}×{W} integer counters in the state
    store no matter how many events flow past — the canonical
    "bounded state for an unbounded key domain" sketch argument, here
    made executable. Complete mode over the finite file stream must
    reproduce the batch sketch bit-for-bit (integer counts, identical
    md5 bucketing), which is this query's oracle — stronger than the
    usual sketch rows-only check because the SKETCH ITSELF is exact
    given the same input, only its estimates are approximate.
    """
    from cdc_realtime_pipeline_spark.operators.dq import (
        _CMS_D,
        _CMS_W,
        _hex_uniform,
    )

    events_stream = convert_ns_timestamps(
        spark.readStream.schema(raw_schema(spark, sf_dir, "events"))
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    fan = events_stream.select("user_id").withColumn(
        "d", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1)))
    ).withColumn(
        "hkey",
        F.concat(
            F.lit("cms"),
            F.col("d").cast("string"),
            F.lit("|"),
            F.col("user_id").cast("string"),
        ),
    )
    sketch = (
        fan.withColumn(
            "bucket",
            F.floor(_hex_uniform("", "hkey") * _CMS_W).cast("long"),
        )
        .groupBy(F.col("d").cast("long").alias("d"), "bucket")
        .agg(F.count("*").alias("c"))
    )
    res = _memory_sink(sketch, "complete", src=os.path.join(sf_dir, "events.parquet"))
    return res.orderBy("d", "bucket")


def _stream_cms_doc():
    from cdc_realtime_pipeline_spark.operators.dq import _CMS_D, _CMS_W

    stream_countmin_sketch.__doc__ = stream_countmin_sketch.__doc__.format(
        D=_CMS_D, W=_CMS_W
    )


_stream_cms_doc()


def _stream_countmin_sketch_sql() -> str:
    from cdc_realtime_pipeline_spark.operators.dq import (
        _CMS_D,
        _CMS_KEY,
        _cms_bucket_sql,
    )

    return f"""
WITH fan AS (
  SELECT e.user_id, t.d,
         {_cms_bucket_sql(_CMS_KEY)} AS bucket
  FROM events e CROSS JOIN (SELECT unnest(range({_CMS_D})) AS d) t
)
SELECT d, bucket, count(*) AS c
FROM fan GROUP BY d, bucket ORDER BY d, bucket
"""


QUERIES = {
    "stream_countmin_sketch": stream_countmin_sketch,
    "stream_window_chain": stream_window_chain,
    "stream_daily_users_bitmap": stream_daily_users_bitmap,
    "stream_cep_funnel": stream_cep_funnel,
    "cdc_python_datasource_roundtrip": cdc_python_datasource_roundtrip,
    "stream_cdc_python_datasource": stream_cdc_python_datasource,
    "cdc_python_datasource_write_roundtrip": cdc_python_datasource_write_roundtrip,
    "stream_window_agg_5m": stream_window_agg_5m,
    "stream_topk_per_window": stream_topk_per_window,
    "stream_ohlc_bars_5m": stream_ohlc_bars_5m,
    "stream_value_drift_gate": stream_value_drift_gate,
    "stream_cusum_alarm": stream_cusum_alarm,
    "stream_sprt_alarm": stream_sprt_alarm,
    "stream_open_interval_depth": stream_open_interval_depth,
    "stream_cdc_parse": stream_cdc_parse,
    "stream_dedup_counts": stream_dedup_counts,
    "stream_dedup_watermarked": stream_dedup_watermarked,
    "stream_sessionize": stream_sessionize,
    "stream_merged_trade_agg": stream_merged_trade_agg,
    "stream_static_enrich": stream_static_enrich,
    "stream_stream_join": stream_stream_join,
    "stream_stream_left_outer": stream_stream_left_outer,
    "stream_stream_full_outer": stream_stream_full_outer,
    "stream_anomaly_alerts": stream_anomaly_alerts,  # rows-only
    "stream_anomaly_rule_counts": stream_anomaly_rule_counts,
    "stream_docs_quality_gate": stream_docs_quality_gate,
    "stream_decontaminate_gate": stream_decontaminate_gate,
    "stream_cdc_apply": stream_cdc_apply,
    "stream_cdc_scd2": stream_cdc_scd2,
}

ORACLES = {
    "stream_countmin_sketch": _stream_countmin_sketch_sql(),
    "stream_window_chain": STREAM_WINDOW_CHAIN_SQL,
    "stream_daily_users_bitmap": STREAM_DAILY_USERS_BITMAP_SQL,
    # deliberately the SAME oracle as the batch lag-chain: the
    # streaming NFA walk must reproduce the declarative match set
    "stream_cep_funnel": CEP_FUNNEL_SEQUENCE_SQL,
    # same oracle as cdc_roundtrip: transport swapped, semantics identical
    "cdc_python_datasource_roundtrip": CDC_ROUNDTRIP_SQL,
    "stream_cdc_python_datasource": CDC_ROUNDTRIP_SQL,
    "cdc_python_datasource_write_roundtrip": CDC_ROUNDTRIP_SQL,
    "stream_window_agg_5m": EVENTS_WINDOW_AGG_5M_SQL,
    "stream_topk_per_window": STREAM_TOPK_PER_WINDOW_SQL,
    "stream_ohlc_bars_5m": _ts_oracles.OHLC_BARS_5M_SQL,
    # over the finite stream the live half == the batch query's late half
    "stream_value_drift_gate": _dq_oracles.VALUE_DISTRIBUTION_PSI_SQL,
    "stream_cusum_alarm": _ts_oracles.EVENTS_CUSUM_CHANGEPOINT_SQL,
    "stream_sprt_alarm": _inf_oracles.EVENTS_SPRT_MONITOR_SQL,
    "stream_open_interval_depth": _tmp_oracles.ORDERS_OPEN_INTERVAL_DEPTH_SQL,
    "stream_cdc_parse": CDC_ROUNDTRIP_SQL,
    "stream_dedup_counts": STREAM_DEDUP_COUNTS_SQL,
    "stream_dedup_watermarked": STREAM_DEDUP_COUNTS_SQL,
    "stream_sessionize": SESSIONIZE_NATIVE_SQL,
    "stream_merged_trade_agg": STREAM_MERGED_TRADE_AGG_SQL,
    "stream_static_enrich": STREAM_STATIC_ENRICH_SQL,
    "stream_stream_join": STREAM_STREAM_JOIN_SQL,
    "stream_stream_left_outer": STREAM_STREAM_LEFT_OUTER_SQL,
    "stream_stream_full_outer": STREAM_STREAM_FULL_OUTER_SQL,
    "stream_anomaly_rule_counts": STREAM_ANOMALY_RULE_COUNTS_SQL,
    "stream_docs_quality_gate": STREAM_DOCS_QUALITY_GATE_SQL,
    "stream_decontaminate_gate": _curation_oracles.DECONTAMINATE_VS_BENCHMARK_SQL,
    "stream_cdc_apply": CDC_APPLY_CHANGES_SQL,
    "stream_cdc_scd2": CDC_SCD2_HISTORY_SQL,
}
