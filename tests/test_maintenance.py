"""TTL retention + compaction over the month-partitioned layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.operators.maintenance import (
    compact_partition,
    drop_expired_partitions,
    list_month_partitions,
    retention_horizon,
)
from cdc_realtime_pipeline_spark.session import load_table


def _partitioned_table(spark, sf_dir, tmp_path):
    out = str(tmp_path / "t")
    ev = load_table(spark, sf_dir, "events").withColumn(
        # spread fixture data over 3 synthetic months
        "month", F.concat(F.lit("2024"), F.lpad((F.col("event_id") % 3 + 1).cast("string"), 2, "0"))
    )
    ev.write.partitionBy("month").parquet(out)
    return out


def test_ttl_drops_only_expired_months(spark, sf_dir, tmp_path):
    out = _partitioned_table(spark, sf_dir, tmp_path)
    months = list_month_partitions(out)
    assert months == ["202401", "202402", "202403"]
    keep = retention_horizon(months, keep_last=2)
    dropped = drop_expired_partitions(out, keep)
    assert dropped == ["202401"]
    assert list_month_partitions(out) == ["202402", "202403"]
    # remaining data intact and readable
    left = spark.read.parquet(out)
    assert left.select("month").distinct().count() == 2


def test_ttl_idempotent(spark, sf_dir, tmp_path):
    out = _partitioned_table(spark, sf_dir, tmp_path)
    keep = retention_horizon(list_month_partitions(out), keep_last=2)
    drop_expired_partitions(out, keep)
    assert drop_expired_partitions(out, keep) == []  # second run: no-op


def test_compaction_preserves_rows(spark, sf_dir, tmp_path):
    out = _partitioned_table(spark, sf_dir, tmp_path)
    part = os.path.join(out, "month=202401")
    before = spark.read.parquet(part).count()
    n_files = compact_partition(spark, out, "202401")
    assert n_files >= 1
    after_files = [f for f in os.listdir(part) if f.endswith(".parquet")]
    assert len(after_files) == 1
    assert spark.read.parquet(part).count() == before


def test_backfill_replaces_one_month_only(spark, tmp_path):
    from cdc_realtime_pipeline_spark.operators.maintenance import (
        backfill_partition,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "202401"), (2, "202401"), (3, "202402")], "id long, month string"
    )
    df.write.partitionBy("month").parquet(t)

    fixed = spark.createDataFrame([(20, "202401"), (21, "202401"), (22, "202401")],
                                  "id long, month string").drop("month")
    n = backfill_partition(spark, t, "202401", fixed)
    assert n == 3

    out = spark.read.parquet(t)
    jan = {r["id"] for r in out.filter("month = '202401'").collect()}
    feb = {r["id"] for r in out.filter("month = '202402'").collect()}
    assert jan == {20, 21, 22}  # replaced
    assert feb == {3}  # untouched

    # idempotent: running the same backfill again yields the same state
    backfill_partition(spark, t, "202401", fixed)
    out2 = spark.read.parquet(t)
    assert {r["id"] for r in out2.filter("month = '202401'").collect()} == {20, 21, 22}


def test_schema_evolution_read_merges_and_nullfills(spark, tmp_path):
    from cdc_realtime_pipeline_spark.operators.maintenance import (
        read_with_schema_evolution,
    )

    t = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        t + "/batch=1"
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(t + "/batch=2")

    out = read_with_schema_evolution(spark, t)
    assert set(out.columns) >= {"id", "name", "score"}
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] is None  # null-filled for the old file
    assert rows[2]["score"] == 9.5


def test_wap_publishes_only_after_audits_pass(spark, tmp_path):
    import pytest

    from cdc_realtime_pipeline_spark.operators.maintenance import (
        AuditFailure,
        write_audit_publish,
    )

    t = str(tmp_path / "wap")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    n = write_audit_publish(
        spark, v1, t, [lambda d: d.count() == 2, lambda d: d.filter("id is null").count() == 0]
    )
    assert n == 2

    # a failing audit must leave v1 live and readable
    v2_bad = spark.createDataFrame([(3, None)], "id long, name string")

    def no_null_names(d):
        return d.filter("name is null").count() == 0

    with pytest.raises(AuditFailure):
        write_audit_publish(spark, v2_bad, t, [no_null_names])
    live = {r["id"] for r in spark.read.parquet(t).collect()}
    assert live == {1, 2}

    # a passing second version promotes
    v2 = spark.createDataFrame([(3, "c")], "id long, name string")
    assert write_audit_publish(spark, v2, t, [no_null_names]) == 1
    assert {r["id"] for r in spark.read.parquet(t).collect()} == {3}


@pytest.mark.parametrize(
    "op", ["compact_partition", "backfill_partition", "write_audit_publish"]
)
def test_refused_swap_in_keeps_live_rows(spark, tmp_path, monkeypatch, op):
    # the staged data cannot be renamed into place: the live
    # partition/table must still read its old rows, a reader of the
    # whole table must not see the staged copy, and a retry publishes
    from cdc_realtime_pipeline_spark.operators.maintenance import (
        backfill_partition,
        write_audit_publish,
    )

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "202401"), (2, "202401")], "id long, month string"
    ).write.partitionBy("month").parquet(t)
    live = os.path.join(t, "month=202401")
    new = spark.createDataFrame([(3,)], "id long")
    run = {
        "compact_partition": lambda: compact_partition(spark, t, "202401"),
        "backfill_partition": lambda: backfill_partition(spark, t, "202401", new),
        "write_audit_publish": lambda: write_audit_publish(spark, new, live, []),
    }[op]

    def ids():
        return sorted(r["id"] for r in spark.read.parquet(live).collect())

    real_rename = os.rename
    refused = []

    def refuse_swap_in(src, dst, *args, **kwargs):
        # the first rename onto the live path is the swap-in; the
        # second is the restore
        if str(dst) == live and not refused:
            refused.append(src)
            raise OSError("injected rename failure")
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", refuse_swap_in)
    with pytest.raises(OSError, match="injected"):
        run()
    monkeypatch.undo()
    assert ids() == [1, 2]
    table = sorted((r["id"], r["month"]) for r in spark.read.parquet(t).collect())
    assert table == [(1, 202401), (2, 202401)]

    run()
    assert ids() == ([1, 2] if op == "compact_partition" else [3])
