"""Invariant tests for the late-round-5 operator block (recursive CTE,
regr aggregates, Pareto frontier, PCA power iteration). The oracle
harness checks cross-engine equality; these pin the semantic claims
the docstrings make, on the sf0.001 fixture."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from cdc_realtime_pipeline_spark.operators.extended import (
    pareto_frontier_customers,
    recursive_cte_conformance,
    regr_aggregates_conformance,
)
from cdc_realtime_pipeline_spark.operators.similarity import embeddings_pca_power
from cdc_realtime_pipeline_spark.session import load_table


def test_python_datasource_kafka_contract(spark, sf_dir):
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import register
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _cdc_topic

    register(spark)
    topic = _cdc_topic(spark, sf_dir, "plain")
    raw = spark.read.format("cdc_envelope").option("path", topic).load()
    rows = raw.collect()
    # one partition per topic file, written as 4 by write_cdc_topic
    parts = {r.partition for r in rows}
    assert parts == set(range(4))
    # offsets are the dense within-partition sequence, Kafka-style
    from collections import defaultdict

    by_part = defaultdict(list)
    for r in rows:
        by_part[r.partition].append(r.offset)
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))
    # the custom connector carries the identical payload bytes the JVM
    # text source reads — transport swapped, contract identical
    jvm = {r.value for r in spark.read.format("text").load(topic).collect()}
    assert {r.value for r in rows} == jvm


def test_datasource_pushdown_prunes_files_before_read(spark, sf_dir):
    from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeReader,
        register,
    )
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _cdc_topic

    topic = _cdc_topic(spark, sf_dir, "plain")
    # reader-level: a partition predicate prunes SPLITS (files never
    # opened); unsupported filters are handed back to Spark
    r = CdcEnvelopeReader({"path": topic})
    remaining = r.pushFilters([EqualTo(("partition",), 2), LessThan(("offset",), 5)])
    assert [type(f).__name__ for f in remaining] == ["LessThan"]
    assert len(r.partitions()) == 1
    r2 = CdcEnvelopeReader({"path": topic})
    r2.pushFilters([GreaterThan(("partition",), 1)])
    assert len(r2.partitions()) == 2
    # end-to-end: the pruned scan + Spark-side residual agree with truth
    register(spark)
    df = spark.read.format("cdc_envelope").option("path", topic).load()
    got = df.filter(
        (F.col("partition") == 1) & (F.col("offset") < 5)
    ).collect()
    assert {(r_.partition, r_.offset) for r_ in got} == {(1, o) for o in range(5)}


def test_stream_datasource_offsets_replay_deterministically(spark, sf_dir):
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeStreamReader,
    )
    from cdc_realtime_pipeline_spark.streaming.stream_queries import _cdc_topic

    topic = _cdc_topic(spark, sf_dir, "plain")
    r = CdcEnvelopeStreamReader({"path": topic})
    start = r.initialOffset()
    rows, end = r.read(start)
    assert end["files_read"] == 4 and rows
    # the consumer-group contract: any committed range re-serves the
    # exact same rows (this is what makes engine-side exactly-once work)
    assert r.readBetweenOffsets(start, end) == rows
    mid = {"files_read": 2}
    assert (
        r.readBetweenOffsets(start, mid) + r.readBetweenOffsets(mid, end) == rows
    )
    # drained source yields an empty batch at the same offset
    rows2, end2 = r.read(end)
    assert rows2 == [] and end2 == end


def test_datasource_writer_commit_protocol(tmp_path):
    import pyarrow as pa

    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeWriter,
    )

    # the writer is a DataSourceArrowWriter (round 13): tasks hand it
    # pyarrow.RecordBatch iterators, value column first
    def _b(*vals):
        return pa.RecordBatch.from_arrays(
            [pa.array(list(vals), type=pa.string())], names=["value"]
        )

    out = str(tmp_path / "sink")
    w = CdcEnvelopeWriter({"path": out}, overwrite=True)
    m1 = w.write(iter([_b("a", "b")]))
    m2 = w.write(iter([_b("c")]))
    import os

    # before commit: staging only — nothing a reader would pick up
    assert all(f.startswith(".tmp-") for f in os.listdir(out))
    w.commit([m1, m2])
    finals = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    assert finals == ["part-00000", "part-00001"]
    lines = []
    for f in finals:
        lines += open(os.path.join(out, f)).read().splitlines()
    assert sorted(lines) == ["a", "b", "c"]
    # abort path: staging removed, committed output untouched
    m3 = w.write(iter([_b("junk")]))
    w.abort([m3])
    assert sorted(f for f in os.listdir(out) if f.startswith("part-")) == finals
    assert not [f for f in os.listdir(out) if f.startswith(".tmp-")]


def test_zipf_fit_reproduces_numpy_ols():
    import numpy as np

    # the regr_slope/intercept identity on a tiny synthetic vocab —
    # guards the ln/ln orientation (y = ln count, x = ln rank)
    counts = np.array([100, 50, 33, 25, 20], dtype=float)
    ranks = np.arange(1, 6, dtype=float)
    x, y = np.log(ranks), np.log(counts)
    slope = ((x - x.mean()) * (y - y.mean())).sum() / ((x - x.mean()) ** 2).sum()
    # perfect Zipf 1/r ⇒ slope −1
    assert abs(slope - (-1.0)) < 0.01


def test_benford_shares_sum_to_one_and_ladder_is_exact(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.dq import value_benford_digits

    rows = value_benford_digits(spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.exp_share for r in rows) - 1.0) < 1e-3
    # ladder vs python reference on the fixture
    import math

    ev = load_table(spark, sf_dir, "events").select("value").collect()

    def first_digit(v):
        if v <= 0.001:
            return None
        while v >= 10.0:
            v /= 10.0
        while v < 1.0:
            v *= 10.0
        return int(v)

    from collections import Counter

    ref = Counter(d for d in (first_digit(r.value) for r in ev) if d)
    got = {r.digit: r.n_obs for r in rows}
    assert got == {d: n for d, n in ref.items() if 1 <= d <= 9}


def test_window_funnel_dominates_strict_cep(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.extended import (
        cep_funnel_sequence,
        window_funnel_depth,
    )

    out = window_funnel_depth(spark, sf_dir).collect()
    # greedy earliest-next dominates: any strict view→click→purchase
    # triple implies relaxed depth 3 for that user
    strict_users = {
        r.user_id for r in cep_funnel_sequence(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    # users bucketed by max depth partition the users with ≥1 view
    n_view_users = (
        ev.filter(F.col("event_type") == "view").select("user_id").distinct().count()
    )
    assert sum(r.n_users for r in out) == n_view_users
    if strict_users:
        depth3 = {r.max_depth for r in out}
        assert 3 in depth3
        d3_row = next(r for r in out if r.max_depth == 3)
        assert d3_row.n_users >= len(strict_users)


def test_dp_noise_is_bounded_and_seed_stable(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.dq import dp_noised_release

    rows = dp_noised_release(spark, sf_dir).collect()
    assert rows
    truth = {
        r.event_type: (r.n, r.s)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.greatest(F.lit(0.0), F.least(F.lit(100.0), F.col("value")))
            ).alias("s"),
        )
        .collect()
    }
    for r in rows:
        n_true, s_true = truth[r.event_type]
        # Laplace(b): P(|noise| > 20b) = e^-20 — a fixed seed either
        # satisfies this forever or the mechanism is wrong
        assert abs(r.n_noised - n_true) <= 20.0 * (1.0 / r.eps)
        assert abs(r.sum_noised - s_true) <= 20.0 * (100.0 / r.eps)
        # ... and the noise must be non-zero for at least one group
    assert any(abs(r.n_noised - truth[r.event_type][0]) > 1e-6 for r in rows)
    # seeded determinism: a second invocation is bit-identical
    again = {r.event_type: (r.n_noised, r.sum_noised) for r in rows}
    for r in dp_noised_release(spark, sf_dir).collect():
        assert (r.n_noised, r.sum_noised) == again[r.event_type]


def test_k_anonymity_bands_partition_all_rows(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.dq import k_anonymity_audit

    rows = k_anonymity_audit(spark, sf_dir).collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_rows for r in rows) == n_events
    assert abs(sum(r.pct_rows for r in rows) - 1.0) < 1e-3
    for r in rows:
        if r.risk_band == "1_unique":
            assert r.n_rows == r.n_classes  # k=1 ⇒ one row per class


def test_cep_state_carries_pattern_across_batch_boundary():
    import pandas as pd

    from cdc_realtime_pipeline_spark.streaming.stream_queries import (
        cep_triples_of_key,
    )

    # view, click in batch 1 — purchase arrives in batch 2: the match
    # must fire from carried state, and a 24h+ gap must not
    b1 = pd.DataFrame(
        dict(
            user_id=[7, 7],
            event_id=[1, 2],
            event_type=["view", "click"],
            ts_s=[100, 200],
        )
    )
    m1, st = cep_triples_of_key(b1, {})
    assert m1 == []
    assert [p[0] for p in st["prev"]] == ["view", "click"]
    b2 = pd.DataFrame(
        dict(user_id=[7], event_id=[3], event_type=["purchase"], ts_s=[300])
    )
    m2, _ = cep_triples_of_key(b2, dict(st))
    assert m2 == [dict(user_id=7, view_id=1, purchase_id=3, span_s=200)]
    # same triple but outside the 24h window → no match
    late = pd.DataFrame(
        dict(user_id=[7], event_id=[3], event_type=["purchase"], ts_s=[100 + 86401])
    )
    m3, _ = cep_triples_of_key(late, dict(st))
    assert m3 == []
    # an intervening event breaks strict contiguity
    b2b = pd.DataFrame(
        dict(
            user_id=[7, 7],
            event_id=[3, 4],
            event_type=["view", "purchase"],
            ts_s=[250, 300],
        )
    )
    m4, _ = cep_triples_of_key(b2b, dict(st))
    assert m4 == []


def test_recursive_cte_walks_the_full_heap_forest(spark, sf_dir):
    rows = recursive_cte_conformance(spark, sf_dir).collect()
    assert rows
    # depth-d stratum of the binary-heap forest is exactly the uid
    # range [2^d, 2^(d+1)) (anchors {0,1} at depth 0), so id bounds
    # prove the recursion labelled every node at the right level
    for r in rows:
        if r.depth == 0:
            assert r.min_id == 0 and r.max_id == 1
        else:
            assert r.min_id >= 2**r.depth
            assert r.max_id < 2 ** (r.depth + 1)
    # ... and the strata partition the whole distinct-uid space: the
    # recursion reached every node exactly once
    n_total = sum(r.n_nodes for r in rows)
    n_distinct = (
        load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    )
    assert n_total == n_distinct


def test_regr_intercept_matches_moment_identity(spark, sf_dir):
    rows = regr_aggregates_conformance(spark, sf_dir).collect()
    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("double"))
        .filter(F.col("k").isNotNull() & F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.avg("value").alias("my"),
            F.avg("k").alias("mx"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    moments = {r.event_type: r for r in ev}
    for r in rows:
        m = moments[r.event_type]
        # OLS identity: the fit line passes through (x̄, ȳ)
        assert abs(r.icept - (m.my - r.slope * m.mx)) < 1e-3
        assert 0.0 <= r.r2 <= 1.0
        assert r.n_pairs == m.n


def test_pareto_frontier_is_exactly_the_nondominated_set(spark, sf_dir):
    pts = [
        (r.rev, r.cnt)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"), F.count("*").alias("cnt"))
        .collect()
    ]

    def dominated(a):
        return any(
            b[0] >= a[0] and b[1] >= a[1] and (b[0] > a[0] or b[1] > a[1])
            for b in pts
        )

    expected = sorted(p for p in pts if not dominated(p))
    frontier = sorted(
        (r.rev, r.cnt) for r in pareto_frontier_customers(spark, sf_dir).collect()
    )
    # the window sweep must reproduce the quadratic definition exactly
    assert frontier == expected
    assert frontier, "frontier can never be empty on non-empty input"


def test_pca_loading_is_unit_norm_and_matches_numpy_power_method(spark, sf_dir):
    out = embeddings_pca_power(spark, sf_dir).collect()
    assert len(out) == 64
    loadings = np.array([r.loading for r in sorted(out, key=lambda r: r.dim)])
    assert abs(float(np.sum(loadings**2)) - 1.0) < 1e-3  # unit vector
    lam = out[0].lambda_mean
    assert lam > 0
    # replicate the exact 3-step power method in numpy — the plan must
    # be the same algebra, not merely "a" principal direction
    X = np.array(
        [
            list(r.embedding)
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    v = np.full(64, 1.0 / 8.0)
    for _ in range(3):
        w = X.T @ (X @ v)
        nrm = float(np.linalg.norm(w))
        v = w / nrm
    assert float(np.max(np.abs(loadings - v))) < 1e-4
    assert abs(lam - nrm / X.shape[0]) < 1e-3
