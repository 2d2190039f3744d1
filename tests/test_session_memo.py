"""The session memo (``session.memo_persist``) is the one per-session
cache: it holds DataFrames, counts, topic paths and written scratch
tables alike, keyed on the session object and the full fixture path,
and ``release_memos()`` drops all of it."""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

from cdc_realtime_pipeline_spark import session
from cdc_realtime_pipeline_spark.operators.extended import (
    BUCKETED_JOIN_COLOCATED_SQL,
    DYNAMIC_PARTITION_PRUNING_JOIN_SQL,
    bucketed_join_colocated,
    dynamic_partition_pruning_join,
)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.join(_REPO, "tools") not in sys.path:
    sys.path.insert(0, os.path.join(_REPO, "tools"))

from check_correctness import value_hash  # noqa: E402

# each query that writes scratch tables from its fixture, with its oracle
WRITTEN = [
    pytest.param(q, sql, id=q.__name__)
    for q, sql in (
        (dynamic_partition_pruning_join, DYNAMIC_PARTITION_PRUNING_JOIN_SQL),
        (bucketed_join_colocated, BUCKETED_JOIN_COLOCATED_SQL),
    )
]


def test_memo_holds_any_value_per_session_and_fixture_path(spark, sf_dir):
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _cdc_topic

    builds = []

    def build():
        builds.append(len(builds) + 1)
        return builds[-1]  # an int: nothing to persist

    def memo(spark_, sf):
        return session.memo_persist("_value_probe", spark_, sf, build)

    first, other = object(), object()
    try:
        assert memo(first, "a") == memo(first, "a") == 1
        first_topic = _cdc_topic(spark, sf_dir)
        assert _cdc_topic(spark, sf_dir) == first_topic
        session.release_memos()
        assert memo(first, "a") == 2
        assert memo(other, "a") == 3  # a new session
        assert memo(other, "b") == 4  # a new fixture path
        # a rebuilt topic lands in a new directory; a lazy read of the
        # earlier one still finds its files
        second_topic = _cdc_topic(spark, sf_dir)
        assert second_topic != first_topic
        assert os.listdir(first_topic) and os.listdir(second_topic)
    finally:
        session._MEMOIZED.pop("_value_probe", None)


def _write_root(root: str, sf_dir: str, keep: int) -> str:
    """Copy the fixture's events, orders and lineitem into ``root``,
    keeping every ``keep``-th row of events and orders."""
    os.makedirs(root, exist_ok=True)
    for name in ("events", "orders", "lineitem"):
        table = pq.read_table(os.path.join(sf_dir, f"{name}.parquet"))
        if name != "lineitem":
            table = table.take(list(range(0, table.num_rows, keep)))
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root


def _oracle_hash(root: str, sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        for name in ("events", "orders", "lineitem"):
            path = os.path.join(root, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        tbl = con.execute(sql).fetch_arrow_table()
    finally:
        con.close()
    rows = list(zip(*[c.to_pylist() for c in tbl.columns]))
    assert rows, "a 0 == 0 match proves nothing"
    return value_hash(rows, tbl.column_names)


def _spark_hash(query, spark, root: str) -> str:
    df = query(spark, root)
    return value_hash([r[:] for r in df.collect()], df.columns)


@pytest.fixture
def drop_new_tables(spark):
    """Drop the bucketed tables a test writes, so per-path tables of
    temporary roots do not pile up in the warehouse."""
    before = {t.name for t in spark.catalog.listTables()}
    yield
    for t in spark.catalog.listTables():
        if t.name not in before and t.name.startswith("sg_bkt_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")


@pytest.mark.parametrize("query,sql", WRITTEN)
def test_roots_with_one_basename_keep_their_own_answers(
    spark, sf_dir, tmp_path, drop_new_tables, query, sql
):
    full = _write_root(str(tmp_path / "a" / "sf0.001"), sf_dir, keep=1)
    third = _write_root(str(tmp_path / "b" / "sf0.001"), sf_dir, keep=3)
    want = {root: _oracle_hash(root, sql) for root in (full, third)}
    assert want[full] != want[third]
    for root in (full, third, full):
        assert _spark_hash(query, spark, root) == want[root], root


@pytest.mark.parametrize("query,sql", WRITTEN)
def test_rewritten_root_gives_the_new_answer_after_release(
    spark, sf_dir, tmp_path, drop_new_tables, query, sql
):
    root = _write_root(str(tmp_path / "sf0.001"), sf_dir, keep=1)
    old = _oracle_hash(root, sql)
    assert _spark_hash(query, spark, root) == old
    _write_root(root, sf_dir, keep=3)
    new = _oracle_hash(root, sql)
    assert new != old
    session.release_memos()
    assert _spark_hash(query, spark, root) == new
