"""Focused tests for the round-13 wave-4 optimizations: operator
internals changed for plan-cost reasons must keep their contracts
bit-identical (the oracle harness proves cross-engine equality; these
pin the internals the optimizations touched)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _mk_topic(tmp_path):
    topic = tmp_path / "topic"
    topic.mkdir()
    lines0 = ['{"k":%d}' % i for i in range(100)]
    (topic / "part-00000").write_text("\n".join(lines0) + "\n")
    lines1 = ['{"j":%d}' % i for i in range(37)]
    (topic / "part-00001").write_text("\n".join(lines1) + "\n")
    return str(topic), lines0, lines1


def _drain(reader):
    rows = []
    for p in reader.partitions():
        for batch in reader.read(p):
            d = batch.to_pydict()
            rows += list(
                zip(d["value"], d["source_file"], d["partition"], d["offset"])
            )
    return rows


def test_datasource_byte_range_splits_preserve_kafka_contract(tmp_path):
    """Byte-range sub-splits (round 13) change task granularity ONLY:
    same values, same partition ids (= file index), same dense
    within-file offsets as the one-partition-per-file reader."""
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeReader,
    )

    topic, lines0, _ = _mk_topic(tmp_path)
    # a split size past either file's size reads each file whole
    whole = CdcEnvelopeReader({"path": topic, "split_bytes": str(1 << 20)})
    split = CdcEnvelopeReader({"path": topic, "split_bytes": "64"})
    assert len(whole.partitions()) == 2
    assert len(split.partitions()) > 2  # files really were cut
    got, want = _drain(split), _drain(whole)
    assert sorted(got) == sorted(want)
    by_part: dict[int, list] = {}
    for v, _sf, pidx, off in got:
        by_part.setdefault(pidx, []).append((off, v))
    # offsets dense per file, values in file order — the Kafka contract
    assert sorted(o for o, _ in by_part[0]) == list(range(100))
    assert [v for _, v in sorted(by_part[0])] == lines0


@pytest.mark.parametrize("cpus", ["0", ""])
def test_datasource_partitions_when_cpus_means_all_cores(
    tmp_path, monkeypatch, cpus
):
    """``SPARK_GRAFT_CPUS`` of ``0`` or empty means every core for the
    reader's derived split size, as it does for ``get_spark``."""
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeReader,
    )

    monkeypatch.setenv("SPARK_GRAFT_CPUS", cpus)
    topic, _, _ = _mk_topic(tmp_path)
    assert len(CdcEnvelopeReader({"path": topic}).partitions()) == 2


def test_datasource_split_reader_still_prunes_pushed_partitions(tmp_path):
    from pyspark.sql.datasource import EqualTo

    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        CdcEnvelopeReader,
    )

    topic, _, _ = _mk_topic(tmp_path)
    r = CdcEnvelopeReader({"path": topic, "split_bytes": "64"})
    r.pushFilters([EqualTo(("partition",), 1)])
    parts = r.partitions()
    assert parts and {p.value[0] for p in parts} == {1}


@pytest.mark.slow
def test_datasource_split_read_matches_default_through_spark(
    spark, tmp_path
):
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        register,
    )

    topic, _, _ = _mk_topic(tmp_path)
    register(spark)
    base = (
        spark.read.format("cdc_envelope").option("path", topic).load()
    ).collect()
    forced = (
        spark.read.format("cdc_envelope")
        .option("path", topic)
        .option("split_bytes", "64")
        .load()
    ).collect()
    key = lambda r: (r.partition, r.offset)  # noqa: E731
    assert sorted(forced, key=key) == sorted(base, key=key)


def test_file_splits_exact_on_blank_lines():
    """The fast newline-count path must hand off to the exact split()
    fallback when a foreign file carries blank lines."""
    from cdc_realtime_pipeline_spark.sources.cdc_python_datasource import (
        _file_splits,
    )

    data = b"a\n\nb\nc\n\nd\ne"
    splits = _file_splits(data, 4)
    assert [s[0] for s in splits] == [0, 5, 10]
    # prefix line counts skip blanks: "a","b" | "c","d" | "e"
    assert [s[2] for s in splits] == [0, 2, 4]


def test_kcore_peel3_seeded_from_core2_fixpoint(spark, sf_dir):
    """peel(3) now starts from the 2-core fixpoint (3-core ⊆ 2-core ⊆
    degree≥2 seed, and Matula–Beck peeling converges to the same k-core
    from ANY superset of it). Pin: every 3-core member reported is in
    the 2-core, and re-peeling the output in pure Python from the full
    degree relation reproduces the flags."""
    from cdc_realtime_pipeline_spark.operators.corpus_ops import (
        dup_graph_kcore,
    )
    from cdc_realtime_pipeline_spark.operators.dedup import dedup_docs_jaccard

    rows = dup_graph_kcore(spark, sf_dir).collect()
    in2 = {r.doc_id for r in rows}
    in3 = {r.doc_id for r in rows if r.in_3core}
    assert in3 <= in2
    edges = set()
    for r in dedup_docs_jaccard(spark, sf_dir).collect():
        edges.add((r.doc_a, r.doc_b))
        edges.add((r.doc_b, r.doc_a))

    def py_core(k):
        alive = {a for a, _ in edges} | {b for _, b in edges}
        while True:
            deg: dict[int, int] = {}
            for a, b in edges:
                if a in alive and b in alive:
                    deg[a] = deg.get(a, 0) + 1
            nxt = {v for v, d in deg.items() if d >= k}
            if nxt == alive:
                return alive
            alive = nxt

    assert in2 == py_core(2)
    assert in3 == py_core(3)


def test_hampel_sliced_frames_match_unsliced(spark, sf_dir, monkeypatch):
    """The sliced (round-13) hampel implementation must reproduce the
    direct single-window-per-type form exactly — frames are local, so
    chunking with ±H overlap is pure parallelism. The slice path is
    volume-gated off at fixture scale, so force it on here; the direct
    form it must equal is the oracle-gated production path."""
    from pyspark.sql import Window

    from cdc_realtime_pipeline_spark.operators import timeseries
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        _HAMPEL_C,
        _HAMPEL_HALF,
        _HAMPEL_K,
        _median_expr,
        value_hampel_filter,
    )
    from cdc_realtime_pipeline_spark.session import load_table

    monkeypatch.setattr(timeseries, "_HAMPEL_SLICE_ROWS", 0)
    got = [tuple(r) for r in value_hampel_filter(spark, sf_dir).collect()]

    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-_HAMPEL_HALF, _HAMPEL_HALF)
    )
    framed = ev.select(
        "event_type",
        "value",
        F.sort_array(F.collect_list("value").over(w)).alias("arr"),
    )
    scored = (
        framed.withColumn(
            "med", F.expr(_median_expr("arr", "element_at", "size"))
        )
        .withColumn(
            "mad",
            F.expr(
                _median_expr(
                    "array_sort(transform(arr, x -> abs(x - med)))",
                    "element_at",
                    "size",
                )
            ),
        )
        .withColumn(
            "score",
            F.expr(
                f"CASE WHEN mad > 0 THEN abs(value - med)"
                f" / ({_HAMPEL_C} * mad) END"
            ),
        )
    )
    want = [
        tuple(r)
        for r in scored.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count_if(F.col("score") > _HAMPEL_K)
            .cast("long")
            .alias("n_outliers"),
            F.count_if(F.col("mad") <= 0).cast("long").alias("n_zero_mad"),
            F.expr("round(max(score) + 1e-9, 4) + 0.0").alias("max_score"),
        )
        .orderBy("event_type")
        .collect()
    ]
    assert got == want
