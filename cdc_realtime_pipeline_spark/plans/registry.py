"""Query registry — the single source for the driver contract.

Aggregates every operator module's ``QUERIES`` (name → callable taking
``(spark, sf_dir)`` and returning a DataFrame) and ``ORACLES`` (name →
equivalent DuckDB SQL). ``__spark_entry__.py`` re-exports these; the
driver runs both sides at sf0.01 and compares row count + schema +
order-insensitive value hash; ``tools/check_correctness.py`` runs the
same comparison locally.

Order: ``all_queries()`` is the merge of every module's ``QUERIES``
in ``_MODULES`` order, so two calls list the names the same way.

Names present in QUERIES but not ORACLES are intentionally weaker
rows-only checks (approximate or dialect-pathological operators —
each documents why at its definition site).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cdc_realtime_pipeline_spark.operators import (
    anomaly,
    cdc_ops,
    corpus_ops,
    curation,
    dashboard,
    dedup,
    dq,
    extended,
    inference,
    multimodal,
    relational,
    relational_tpch,
    similarity,
    temporal,
    text_ops,
    timeseries,
    training_data,
    window_agg,
)
from cdc_realtime_pipeline_spark.streaming import stream_queries

_MODULES = [
    dashboard,
    window_agg,
    anomaly,
    relational,
    relational_tpch,
    extended,
    temporal,
    timeseries,
    dedup,
    cdc_ops,
    text_ops,
    similarity,
    multimodal,
    training_data,
    corpus_ops,
    curation,
    dq,
    inference,
    stream_queries,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = out.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return out


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out
