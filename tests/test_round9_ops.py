"""Round-9 operators: OPQ rotation selection, binary-sign Hamming ANN,
Gopher-rule quality gate, PSI drift."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_opq_selection_never_worse_than_identity(spark, sf_dir):
    """The construction guarantee: recall-first selection with a
    bit-identical-to-plain-PQ identity candidate means the chosen
    rotation's validation n_hit ≥ identity's (and the audit carries
    both metrics for every candidate)."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        embeddings_opq_rotate,
    )

    rows = {r["cand"]: r for r in embeddings_opq_rotate(spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0]["rotation"] == "identity"
    chosen = [r for r in rows.values() if r["chosen"] == 1]
    assert len(chosen) == 1
    assert chosen[0]["n_hit"] >= rows[0]["n_hit"]
    assert all(r["distortion"] > 0 for r in rows.values())


def test_opq_identity_adc_matches_plain_pq(spark, sf_dir):
    """The identity candidate's ADC relation is plain PQ bit-for-bit —
    the property the selection guarantee rests on."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        _opq_adc_all,
        similarity_pq_adc_topk,
        _ADC_K,
    )
    from pyspark.sql.window import Window

    wq = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("vec_id")
    )
    ident = (
        _opq_adc_all(spark, sf_dir)
        .filter(F.col("cand") == 0)
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _ADC_K)
        .select("query_id", "rank", "vec_id", "adc_dist")
    )
    plain = similarity_pq_adc_topk(spark, sf_dir)
    a = {(r["query_id"], r["rank"]): (r["vec_id"], r["adc_dist"]) for r in ident.collect()}
    b = {(r["query_id"], r["rank"]): (r["vec_id"], r["adc_dist"]) for r in plain.collect()}
    assert a == b


def test_binary_sign_hamming_bounds_and_ties(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.similarity import (
        similarity_binary_sign_topk,
        N_QUERIES,
    )

    rows = similarity_binary_sign_topk(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert 0 <= r["hamming"] <= 64
        assert r["vec_id"] >= N_QUERIES
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert len(rs) == 5
        # non-decreasing hamming; ties must break by vec_id
        for a, b in zip(rs, rs[1:]):
            assert (a["hamming"], a["vec_id"]) < (b["hamming"], b["vec_id"])


def test_gopher_gate_integer_rules(spark, sf_dir):
    """Rules are exact-integer: re-derive the per-source counters from
    the token relation and check the gate agrees; kept + any-fail
    partitions the corpus."""
    from cdc_realtime_pipeline_spark.operators.curation import (
        docs_gopher_quality_gate,
    )
    from cdc_realtime_pipeline_spark.operators.dedup import doc_words

    gate = {r["source"]: r for r in docs_gopher_quality_gate(spark, sf_dir).collect()}
    n_docs_by_source = {
        r["source"]: r["n"]
        for r in doc_words(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert gate and set(gate) <= set(n_docs_by_source)
    for src, row in gate.items():
        # every doc with ≥1 token rows somewhere; kept ≤ n_docs
        assert 0 <= row["kept"] <= row["n_docs"]
        assert row["n_docs"] <= n_docs_by_source[src]
        for col in ("fail_wordcount", "fail_meanlen", "fail_alpha"):
            assert 0 <= row[col] <= row["n_docs"]


def test_psi_drift_nonnegative_and_consistent(spark, sf_dir):
    """PSI terms are (p−q)·ln(p/q) ≥ 0 by the same-sign property, and
    the repeated total equals the sum of the rounded terms."""
    from cdc_realtime_pipeline_spark.operators.dq import docs_psi_drift

    rows = docs_psi_drift(spark, sf_dir).collect()
    assert rows
    totals = {r["psi_total"] for r in rows}
    assert len(totals) == 1
    total = totals.pop()
    assert total >= 0
    assert abs(total - round(sum(r["psi_term"] for r in rows) + 1e-9, 6)) < 1e-9
    for r in rows:
        assert r["psi_term"] >= 0
        assert r["n_ref"] + r["n_cur"] > 0


def test_binary_rerank_refines_hamming_pool(spark, sf_dir):
    """Re-rank rows come from the Hamming pool and are ordered by
    exact cosine with vec_id tie-break."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        similarity_binary_rerank,
        _BINRERANK_R,
    )

    rows = similarity_binary_rerank(spark, sf_dir).collect()
    assert rows
    by_q = {}
    for r in rows:
        assert 1 <= r["ham_rank"] <= _BINRERANK_R
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert len(rs) == 5
        for a, b in zip(rs, rs[1:]):
            assert (-a["cos"], a["vec_id"]) < (-b["cos"], b["vec_id"])


def test_cusum_replay_matches_fold(spark, sf_dir):
    """Replay the CUSUM recurrence in Python over the same hourly
    series and check the fold's outputs exactly (shared rounding)."""
    from pyspark.sql import functions as F
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        events_cusum_changepoint,
    )
    from cdc_realtime_pipeline_spark.session import load_table

    got = {r["event_type"]: r for r in events_cusum_changepoint(spark, sf_dir).collect()}
    hourly = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.expr("unix_micros(ts) div 3600000000").alias("hb"))
        .agg((F.round(F.avg("value") + 1e-9, 6) + 0.0).alias("x"))
        .collect()
    )
    series = {}
    for r in hourly:
        series.setdefault(r["event_type"], []).append((r["hb"], r["x"]))
    for et, pts in series.items():
        xs = [x for _, x in sorted(pts)]
        mu = round(sum(xs) / len(xs) + 1e-9, 6)
        var = sum((v - mu) ** 2 for v in xs) / len(xs)
        # engine sigma is stddev_pop of the 6dp x values, rounded 6dp;
        # allow last-digit wiggle from the different mean association
        sigma = got[et]["sigma"]
        assert abs(var**0.5 - sigma) < 1e-4
        sp = sn = maxp = maxn = 0.0
        alarm = side = 0
        for i, x in enumerate(xs, start=1):
            import math
            sp = math.floor(abs(max(0.0, sp + (x - mu - 0.5 * sigma)) + 1e-9) * 1e6 + 0.5) / 1e6
            sn = math.floor(abs(max(0.0, sn + (mu - x - 0.5 * sigma)) + 1e-9) * 1e6 + 0.5) / 1e6
            maxp, maxn = max(maxp, sp), max(maxn, sn)
            if alarm == 0 and (sp > 4 * sigma or sn > 4 * sigma):
                alarm = i
                side = 1 if sp > 4 * sigma else 2
        r = got[et]
        assert r["n_hours"] == len(xs)
        assert abs(r["max_cusum_pos"] - round(maxp + 1e-9, 4)) < 1e-6
        assert abs(r["max_cusum_neg"] - round(maxn + 1e-9, 4)) < 1e-6
        assert r["alarm_hour_idx"] == alarm
        assert r["alarm_side"] == {0: "none", 1: "pos", 2: "neg"}[side]


def test_minhash_audit_partitions_jaccard_pairs(spark, sf_dir):
    """Band counts partition the jaccard pair set; estimates live in
    [0, 1]; the unbiasedness check: overall mean_est within binomial
    noise of mean_exact (se ≈ sqrt(J(1−J)/16) per pair)."""
    from cdc_realtime_pipeline_spark.operators.dedup import (
        dedup_docs_jaccard,
        dedup_minhash_estimate_audit,
    )

    bands = dedup_minhash_estimate_audit(spark, sf_dir).collect()
    n_pairs = sum(r["n_pairs"] for r in bands)
    assert n_pairs == dedup_docs_jaccard(spark, sf_dir).count()
    for r in bands:
        assert r["err_band"] >= 0
        assert 0.0 <= r["mean_est_j"] <= 1.0
        assert 0.0 <= r["mean_exact_j"] <= 1.0
    tot_est = sum(r["mean_est_j"] * r["n_pairs"] for r in bands) / n_pairs
    tot_exact = sum(r["mean_exact_j"] * r["n_pairs"] for r in bands) / n_pairs
    # 4 standard errors of the 16-component estimator averaged over pairs
    assert abs(tot_est - tot_exact) < 4 * (0.25 / 16) ** 0.5 / max(1, n_pairs) ** 0.5 + 0.05


def test_allen_relations_partition_all_pairs(spark, sf_dir):
    """The 13-way CASE classifies every within-user type pair into
    exactly one relation: counts sum to the pair total, and only
    Allen's 13 relation names appear."""
    from pyspark.sql import functions as F
    from cdc_realtime_pipeline_spark.operators.temporal import (
        allen_interval_relations,
    )
    from cdc_realtime_pipeline_spark.session import load_table

    rows = allen_interval_relations(spark, sf_dir).collect()
    names = {r["relation"] for r in rows}
    allen13 = {
        "before", "after", "meets", "met_by", "overlaps", "overlapped_by",
        "starts", "started_by", "during", "contains", "finishes",
        "finished_by", "equals",
    }
    assert names <= allen13 and rows
    iv = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.count("*").alias("k"))
        .select((F.col("k") * (F.col("k") - 1) / 2).alias("p"))
        .agg(F.sum("p").alias("total"))
        .first()["total"]
    )
    assert sum(r["n_pairs"] for r in rows) == int(iv)


def test_stream_cusum_matches_batch(spark, sf_dir):
    """The streaming monitor over the finite deterministic stream
    equals the batch detector exactly (shared fold, shared oracle)."""
    from cdc_realtime_pipeline_spark.operators.timeseries import (
        events_cusum_changepoint,
    )
    from cdc_realtime_pipeline_spark.streaming.stream_queries import (
        stream_cusum_alarm,
    )

    key = lambda rows: {r["event_type"]: tuple(r) for r in rows}
    assert key(stream_cusum_alarm(spark, sf_dir).collect()) == key(
        events_cusum_changepoint(spark, sf_dir).collect()
    )


def test_softdedup_weight_conservation(spark, sf_dir):
    """Every near-dup cluster contributes exactly 1.0 effective doc:
    Σ effective_docs = (docs outside clusters) + (number of clusters)."""
    from cdc_realtime_pipeline_spark.operators.corpus_ops import (
        corpus_softdedup_weights,
        dup_clusters_connected_components,
    )
    from cdc_realtime_pipeline_spark.operators.dedup import docs_with_dupes

    rows = corpus_softdedup_weights(spark, sf_dir).collect()
    assert rows
    total_docs = docs_with_dupes(spark, sf_dir).count()
    clusters = dup_clusters_connected_components(spark, sf_dir).collect()
    n_members = sum(c["n_members"] for c in clusters)
    expected = (total_docs - n_members) + len(clusters)
    got = sum(r["effective_docs"] for r in rows)
    assert abs(got - expected) < 1e-2
    for r in rows:
        assert r["effective_docs"] <= r["n_docs"] + 1e-9
        assert r["n_dup_members"] <= r["n_docs"]


def test_lsh_band_sweep_s_curve(spark, sf_dir):
    """Banding math: smaller R (more forgiving bands) gives recall and
    candidate volume non-increasing in R — but ONLY without the
    stop-band cap (R=1 buckets are larger and more likely dropped, so
    a truth pair can survive R=2 yet be cap-dropped at R=1; ADVICE r9).
    The monotonicity pair-asserts therefore gate on the cap not firing
    for either config, recomputed here from the same signatures; the
    cap-safe invariants (R·B=16, hit bounds) always hold."""
    import pyspark.sql.functions as F

    from cdc_realtime_pipeline_spark.operators.dedup import (
        _LSH_SWEEP_BUCKET_CAP,
        _LSH_SWEEP_CONFIGS,
        dedup_lsh_band_sweep,
        docs_with_dupes,
        minhash_signatures,
    )

    rows = sorted(
        dedup_lsh_band_sweep(spark, sf_dir).collect(), key=lambda r: r["r_rows"]
    )
    assert [(r["r_rows"], r["b_bands"]) for r in rows] == [(1, 16), (2, 8), (4, 4), (8, 2)]
    for r in rows:
        assert r["r_rows"] * r["b_bands"] == 16
        assert r["n_hit"] <= min(r["n_candidates"], r["n_truth"])

    sig = minhash_signatures(docs_with_dupes(spark, sf_dir))
    cap_fires = {}
    for rows_per_band, bands in _LSH_SWEEP_CONFIGS:
        stacked = sig.select(
            F.explode(
                F.array(
                    *[
                        F.concat_ws(
                            "_",
                            F.lit(b),
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band_key")
        )
        max_bucket = (
            stacked.groupBy("band_key")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        cap_fires[rows_per_band] = max_bucket > _LSH_SWEEP_BUCKET_CAP
    for a, b in zip(rows, rows[1:]):
        if cap_fires[a["r_rows"]] or cap_fires[b["r_rows"]]:
            continue  # superset property broken by design when capped
        assert a["recall"] >= b["recall"] - 1e-9
        assert a["n_candidates"] >= b["n_candidates"]
