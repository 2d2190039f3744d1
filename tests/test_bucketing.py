"""Bucketed co-located joins — the shuffle-free join path at scale.

Writing both sides bucketed on the join key means later joins co-locate
without exchanging the fact table (SURVEY.md guide: "bucketing so later
joins on key co-locate without a shuffle").
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.session import load_table


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bktdb LOCATION '{wh}'")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    (
        li.write.bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("bktdb.lineitem_b")
    )
    (
        orders.withColumnRenamed("o_orderkey", "l_orderkey")
        .write.bucketBy(4, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("bktdb.orders_b")
    )
    return "bktdb.lineitem_b", "bktdb.orders_b"


@pytest.mark.slow
def test_bucketed_join_avoids_shuffle(spark, bucketed):
    li_t, o_t = bucketed
    joined = (
        spark.table(li_t)
        .join(spark.table(o_t).withColumnRenamed("o_totalprice", "tp"), "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    # force the co-located merge path (at this tiny scale AQE would
    # broadcast; at fact×fact scale it cannot — that's the case
    # bucketing exists for)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # both sides pre-bucketed on the key → join needs no Exchange before it
    join_section = plan.split("HashAggregate")[0]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "Exchange hashpartitioning(l_orderkey" not in join_section


def test_bucketed_join_correct(spark, sf_dir, bucketed):
    li_t, o_t = bucketed
    got = (
        spark.table(li_t)
        .join(spark.table(o_t), "l_orderkey")
        .count()
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    assert got == li.join(orders, "l_orderkey").count()
