"""Run the full reference-shaped pipeline end-to-end on fixture data.

The operational demo a reference user would run: synthesize the CDC
topic from fixture events, start the read-once fan-out (raw + window
aggregate partials), the stateful alert stream, and the latency MV
maintainer, then print what landed — the three "ClickHouse tables"
plus the MV, exactly the reference's topology (SURVEY.md §3.2) on
Spark.

    python tools/run_pipeline.py [sf_dir] [out_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="pipeline_out_")

    from pyspark.sql import functions as F

    from cdc_realtime_pipeline_spark.cdc.envelope import (
        parse_cdc_events,
        synthesize_cdc_json_from_events,
    )
    from cdc_realtime_pipeline_spark.session import get_spark, load_table
    from cdc_realtime_pipeline_spark.sources.cdc_file_source import (
        read_cdc_stream,
        write_cdc_topic,
    )
    from cdc_realtime_pipeline_spark.streaming.job import (
        read_merged_trade_agg,
        run_alert_stream,
        run_cdc_fanout,
    )
    from cdc_realtime_pipeline_spark.streaming.mv import read_latency_mv, start_latency_mv

    spark = get_spark("run_pipeline")
    t0 = time.time()

    stream_dir = os.path.join(out, "topic")
    ckpt = os.path.join(out, "checkpoints")
    events = load_table(spark, sf_dir, "events")
    write_cdc_topic(synthesize_cdc_json_from_events(events), stream_dir)
    print(f"[1/4] CDC topic materialized: {events.count()} change events → {stream_dir}")

    run_cdc_fanout(spark, stream_dir, out, ckpt)
    raw = spark.read.parquet(os.path.join(out, "crypto_trades"))
    agg = read_merged_trade_agg(spark, out)
    print(f"[2/4] fan-out: raw={raw.count()} rows "
          f"({raw.select('month').distinct().count()} month partitions), "
          f"trade_aggregations={agg.count()} windows")

    run_alert_stream(spark, stream_dir, out, ckpt)
    alerts = spark.read.parquet(os.path.join(out, "anomaly_alerts"))
    by_type = {r["alert_type"]: r["n"] for r in
               alerts.groupBy("alert_type").agg(F.count("*").alias("n")).collect()}
    print(f"[3/4] anomaly_alerts: {alerts.count()} alerts {by_type}")

    mv_dir = os.path.join(out, "mv_latency_stats")
    parsed = parse_cdc_events(read_cdc_stream(spark, stream_dir)).withColumn(
        "ts", F.timestamp_millis("upbit_timestamp")
    )
    start_latency_mv(spark, parsed, mv_dir, os.path.join(ckpt, "mv"))
    mv = read_latency_mv(spark, mv_dir)
    print(f"[4/4] mv_latency_stats: {mv.count()} minutes maintained")

    print(f"\npipeline complete in {time.time() - t0:.1f}s → {out}")
    agg.orderBy(F.desc("trade_count")).show(5, truncate=False)


if __name__ == "__main__":
    main()
