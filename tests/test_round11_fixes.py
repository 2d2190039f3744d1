"""Round-11 regression tests for the ADVICE r10 edge-case fixes.

Each test pins a divergence class that the sf fixtures happen not to
exercise (which is exactly why they need synthetic-fixture tests):
zero-token documents crashing the bigram slice, and the SPRT llr_e
cap staying consistent with llr_o in the degenerate p0 > 1/lift
regime.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def degenerate_docs_dir(spark, tmp_path_factory):
    """A documents fixture containing the pathological rows the real
    fixtures lack: a whitespace/punctuation-only doc (zero tokens
    after normalization), a single-token doc (zero bigrams), and two
    normal docs so the operators still have signal."""
    out = str(tmp_path_factory.mktemp("degen_docs"))
    rows = [
        (0, "the stream window hash join runs fast", "en", "web", 38),
        (1, "window hash join state store compaction", "en", "web", 40),
        (2, "!!! ... ???", "en", "web", 11),  # zero tokens
        (3, "compaction", "en", "web", 10),  # one token, no bigrams
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "documents.parquet")
    )
    return out


def _release_degen_memos():
    # the degenerate dir shares memo slots with the real fixtures —
    # drop them so later tests never read this tiny corpus
    from cdc_realtime_pipeline_spark.session import release_memos

    release_memos()


def test_good_turing_survives_zero_token_doc(spark, degenerate_docs_dir):
    """ADVICE r10: slice(ws, 1, size(ws)-1) threw on the negative
    length for a zero-token doc while the oracle emitted no grams.
    The guard must make the query run AND count only the bigrams of
    the ≥2-token docs (doc 2 and 3 contribute nothing)."""
    from cdc_realtime_pipeline_spark.operators.text_ops import text_good_turing

    try:
        rows = text_good_turing(spark, degenerate_docs_dir).collect()
        # doc 0 has 7 tokens -> 6 bigrams, doc 1 has 6 -> 5; docs 2/3
        # contribute nothing. "window hash" and "hash join" appear in
        # both docs -> two r=2 types.
        n_tokens = sum(r.r * r.n_r for r in rows)
        assert n_tokens == 11
        twice = [r for r in rows if r.r == 2]
        assert twice and twice[0].n_r == 2
    finally:
        _release_degen_memos()


def test_bigram_builders_survive_zero_token_doc(spark, degenerate_docs_dir):
    """The same guard class in the curation bigram builders
    (kneser-ney, PMI) — both must run on a corpus holding a
    zero-token doc instead of throwing on the negative slice."""
    from cdc_realtime_pipeline_spark.operators.curation import (
        text_bigram_kneser_ney,
        text_pmi_collocations,
    )

    try:
        assert text_bigram_kneser_ney(spark, degenerate_docs_dir).count() > 0
        # PMI applies a min-count floor; on 4 tiny docs it may emit 0
        # rows — surviving the scan without throwing is the contract
        text_pmi_collocations(spark, degenerate_docs_dir).collect()
    finally:
        _release_degen_memos()


def test_sprt_llr_terms_share_capped_p1(spark):
    """ADVICE r10: in the degenerate p0 > 1/lift regime both LLR
    increments must derive from the SAME capped p1 = min(lift·p0,
    0.99), or the walk is not a likelihood ratio. Feed the shared
    fold an hourly relation where one type holds ~90% of events and
    check llr_e == ln(0.99/p0) (capped) rather than ln(lift), while
    the non-degenerate type keeps llr_e == ln(lift) exactly."""
    from cdc_realtime_pipeline_spark.operators.inference import (
        _SPRT_LIFT,
        _SPRT_TRAIN_H,
        sprt_from_hourly,
    )

    rows = []
    for hb in range(_SPRT_TRAIN_H + 3):
        rows.append(("dominant", hb, 90))
        rows.append(("minor", hb, 10))
    hours = spark.createDataFrame(rows, "event_type string, hb long, n_t long")
    out = {r.event_type: r for r in sprt_from_hourly(hours).collect()}
    assert set(out) == {"dominant", "minor"}

    # reproduce the engine's p0 derivation (8dp-rounded share)
    p0_dom = round(90 / 100, 8)
    p0_min = round(10 / 100, 8)
    assert _SPRT_LIFT * p0_dom > 0.99  # the degenerate regime
    llr_e_dom = round(math.log(0.99 / p0_dom), 8)
    llr_e_min = round(math.log(_SPRT_LIFT), 8)
    llr_o_dom = round(math.log((1.0 - 0.99) / (1.0 - p0_dom)), 8)
    llr_o_min = round(
        math.log((1.0 - _SPRT_LIFT * p0_min) / (1.0 - p0_min)), 8
    )
    # 3 post-train hours, constant counts -> final_llr = 3 * inc
    exp_dom = round(3 * (90 * llr_e_dom + 10 * llr_o_dom) + 1e-9, 6)
    exp_min = round(3 * (10 * llr_e_min + 90 * llr_o_min) + 1e-9, 6)
    assert out["dominant"].final_llr == pytest.approx(exp_dom, abs=1e-6)
    assert out["minor"].final_llr == pytest.approx(exp_min, abs=1e-6)


def test_cross_correlation_null_r_loses_argmax(spark):
    """ADVICE r10: a zero-variance hourly series yields NULL r; the
    argmax must pick a non-NULL lag in both engines (Spark pins via
    coalesce(+inf) in the struct-min key, the oracle via NULLS LAST).
    Construct the scored relation shape directly and check the same
    struct-min expression the operator uses."""
    scored = spark.createDataFrame(
        [
            ("a", "b", 0, None),
            ("a", "b", 1, 0.25),
            ("a", "b", 2, 0.75),
            ("c", "d", 0, None),  # every lag degenerate
            ("c", "d", 1, None),
        ],
        "type_a string, type_b string, lag int, r double",
    )
    win = scored.groupBy("type_a", "type_b").agg(
        F.min(
            F.struct(
                F.coalesce(-F.col("r"), F.lit(float("inf"))).alias("nr"),
                F.col("lag"),
                F.col("r"),
            )
        ).alias("win")
    )
    got = {
        (r.type_a, r.type_b): (r.win.lag, r.win.r) for r in win.collect()
    }
    assert got[("a", "b")] == (2, 0.75)  # NULL r at lag 0 lost
    assert got[("c", "d")] == (0, None)  # all-NULL: smallest lag, NULL r


def test_tfidf_memo_matches_inline_definition(spark, sf_dir):
    """The round-11 memo refactor claims ``_tfidf_weights`` /
    ``_tfidf_doc_norms`` are bit-identical to the former inline
    construction — pin that equivalence so a future edit to either
    side cannot drift silently."""
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words
    from cdc_realtime_pipeline_spark.operators.text_ops import (
        _tfidf_doc_norms,
        _tfidf_weights,
    )

    docs = doc_words(spark, sf_dir)
    tokens = docs.select(
        "doc_id", F.explode("words").alias("word")
    ).filter(F.length("word") > 0)
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    tf = tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df_rel = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = df_rel.crossJoin(F.broadcast(n_docs)).select(
        "word", F.round(F.log(F.col("n_docs") / F.col("df")), 8).alias("idf")
    )
    inline_w = tf.join(idf, "word").select(
        "doc_id", "word", (F.col("tf") * F.col("idf")).alias("wt"), "idf"
    )
    memo_w = _tfidf_weights(spark, sf_dir)
    assert memo_w.exceptAll(inline_w).count() == 0
    assert inline_w.exceptAll(memo_w).count() == 0

    inline_norms = inline_w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.round(F.col("wt") * F.col("wt"), 8))).alias("doc_norm")
    )
    memo_norms = _tfidf_doc_norms(spark, sf_dir)
    assert memo_norms.exceptAll(inline_norms).count() == 0
    assert inline_norms.exceptAll(memo_norms).count() == 0


def test_minhash_sigs_memo_matches_inline_definition(spark, sf_dir):
    """``_minhash_sigs16`` must equal
    ``minhash_signatures(docs_with_dupes(...))`` exactly — the
    shared signature table the whole MinHash family now consumes."""
    from cdc_realtime_pipeline_spark.operators.dedup import (
        _minhash_sigs16,
        docs_with_dupes,
        minhash_signatures,
    )

    inline = minhash_signatures(docs_with_dupes(spark, sf_dir))
    memo = _minhash_sigs16(spark, sf_dir)
    assert memo.columns == inline.columns
    assert memo.exceptAll(inline).count() == 0
    assert inline.exceptAll(memo).count() == 0


def _value_hash():
    import sys

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import value_hash

    return value_hash


def _duckdb_rows(sf_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # Spark writes test fixtures as part-file directories;
            # the driver fixtures are flat files — glob either way
            pat = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
            )
    tbl = con.execute(sql).fetch_arrow_table()
    cols = list(tbl.column_names)
    rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
    return rows, cols


def test_cross_correlation_degenerate_pair_end_to_end(spark, tmp_path):
    """Review finding (round 11): the NULL-r argmax pin must be
    exercised through the REAL operator, not a fabricated relation —
    under Spark 4 ANSI the unguarded division RAISED on a
    zero-variance pair instead of producing the NULL the pin handles.
    Fixture: types aa/bb live in exactly one hour (np=1 everywhere →
    zero variance → NULL r on BOTH engines via the nullif guard);
    cc/dd vary over 8 hours (non-null control). The Spark result and
    the DuckDB oracle must agree hash-for-hash, NULLs included."""
    import datetime

    value_hash = _value_hash()
    from cdc_realtime_pipeline_spark.operators.inference import (
        EVENTS_CROSS_CORRELATION_SQL,
        events_cross_correlation,
    )

    base = datetime.datetime(2026, 3, 1, 0, 0, 0)
    rows = []
    eid = 0

    def add(t, hour, n):
        nonlocal eid
        for k in range(n):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=hour, minutes=k % 50),
                    eid % 7,
                    t,
                    float(10 + (eid % 5)),
                    "{}",
                )
            )
            eid += 1

    add("aa", 0, 2)
    add("bb", 0, 3)
    for h in range(8):
        add("cc", h, 2 + (h % 3))
        add("dd", h, 1 + ((h * 2) % 4))
    out = str(tmp_path)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )

    sdf = events_cross_correlation(spark, out)
    srows = sdf.collect()
    # the aa-vs-* and bb-vs-* pairs are all zero-variance on the a
    # side: rows kept, r NULL (previously: ANSI DIVIDE_BY_ZERO crash)
    degen = [r for r in srows if r.type_a in ("aa", "bb")]
    assert degen, "degenerate pairs must still produce rows"
    assert all(r.r_best is None and r.r_lag0 is None for r in degen)
    ctrl = [
        r for r in srows if r.type_a == "cc" and r.type_b == "dd"
    ]
    assert ctrl and ctrl[0].r_best is not None

    drows, dcols = _duckdb_rows(out, EVENTS_CROSS_CORRELATION_SQL)
    assert len(srows) == len(drows)
    assert sorted(sdf.columns) == sorted(dcols)
    assert value_hash([list(r) for r in srows], sdf.columns) == value_hash(
        drows, dcols
    )


def test_davies_bouldin_identical_centroids_end_to_end(spark, tmp_path):
    """Same review finding for label_davies_bouldin: two labels whose
    vectors are IDENTICAL make d_ij exactly 0 — the nullif guard must
    yield NULL r in both engines, the NULL must lose the worst-partner
    argmax, and Spark-vs-oracle must agree hash-for-hash."""
    value_hash = _value_hash()
    from cdc_realtime_pipeline_spark.operators.similarity import (
        LABEL_DAVIES_BOULDIN_SQL,
        label_davies_bouldin,
    )

    dim = 8
    rows = []
    vid = 0
    # labels 0 and 1: the SAME two vectors -> identical centroids
    for label in (0, 1):
        for v in ([1.0] * dim, [1.0] * (dim - 1) + [0.5]):
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
    # label 2: orthogonal-ish control so a non-degenerate partner exists
    for v in ([0.1] * (dim - 1) + [4.0], [0.2] * (dim - 1) + [3.0]):
        rows.append((vid, [float(x) for x in v], 2))
        vid += 1
    out = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "embeddings.parquet")
    )

    sdf = label_davies_bouldin(spark, out)
    srows = sdf.collect()
    by_label = {r.label: r for r in srows}
    # labels 0/1 see each other at d_ij == 0 -> that partner's r is
    # NULL and must LOSE to the non-degenerate label-2 partner
    assert by_label[0].worst_other == 2 and by_label[0].r_max is not None
    assert by_label[1].worst_other == 2 and by_label[1].r_max is not None

    drows, dcols = _duckdb_rows(out, LABEL_DAVIES_BOULDIN_SQL)
    assert len(srows) == len(drows)
    assert value_hash([list(r) for r in srows], sdf.columns) == value_hash(
        drows, dcols
    )
