"""Round-10 wave 5: t-closeness, graph modularity, logistic ROC-AUC,
winnowing fingerprints, Fellegi-Sunter linkage, NB language classifier."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_t_closeness_bands_and_mass(spark, sf_dir):
    """Bands come from the fixed 3-value vocabulary, max_t respects
    each band's integer-algebra cut, and row mass accounts for the
    whole corpus."""
    from cdc_realtime_pipeline_spark.operators.dq import t_closeness_audit

    rows = t_closeness_audit(spark, sf_dir).collect()
    assert rows, "no QI classes"
    bands = {r["closeness_band"] for r in rows}
    assert bands <= {"1_close", "2_moderate", "3_distant"}
    for r in rows:
        assert 0.0 <= r["max_t"] <= 1.0
        if r["closeness_band"] == "1_close":
            assert r["max_t"] <= 0.15 + 1e-6
        elif r["closeness_band"] == "2_moderate":
            assert r["max_t"] <= 0.35 + 1e-6
    assert abs(sum(r["pct_rows"] for r in rows) - 1.0) < 0.01
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["n_rows"] for r in rows) == n_events


def test_modularity_contributions_bounded(spark, sf_dir):
    """Per-community identities: within-edges never exceed half the
    degree mass, total Q lands in (-1, 1], and the community sizes
    agree with the LPA labeling it grades."""
    from cdc_realtime_pipeline_spark.operators.corpus_ops import (
        dup_graph_label_propagation,
        dup_graph_modularity,
    )

    rows = dup_graph_modularity(spark, sf_dir).collect()
    assert rows, "no communities"
    for r in rows:
        assert 2 * r["e_within"] <= r["deg_sum"]
        assert r["n_members"] >= 1
    q = sum(r["q_contrib"] for r in rows)
    assert -1.0 < q <= 1.0 + 1e-6
    lpa_sizes = {
        r["label"]: r["n_members"]
        for r in dup_graph_label_propagation(spark, sf_dir)
        .select("label", "n_members")
        .distinct()
        .collect()
    }
    for r in rows:
        assert lpa_sizes[r["label"]] == r["n_members"]


def test_roc_auc_matches_pure_python(spark, sf_dir):
    """The rank-statistic AUC agrees with a from-scratch pairwise
    computation over the same (score, label) relation, and the
    summary metrics sit in their ranges."""
    from cdc_realtime_pipeline_spark.operators.inference import (
        _logistic_fit,
        user_logistic_roc_auc,
    )

    row = user_logistic_roc_auc(spark, sf_dir).collect()[0]
    assert row["n_pos"] + row["n_neg"] == row["n_users"]
    assert 0.0 <= row["roc_auc"] <= 1.0
    assert 0.0 <= row["avg_precision"] <= 1.0
    assert 0.0 <= row["brier"] <= 1.0
    base, b, eta = _logistic_fit(spark, sf_dir)
    scored = [
        (r["s"], r["y"])
        for r in base.crossJoin(F.broadcast(b))
        .select(F.expr(eta).alias("s"), "y")
        .collect()
    ]
    pos = [s for s, y in scored if y == 1.0]
    neg = [s for s, y in scored if y == 0.0]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg
    )
    auc = wins / (len(pos) * len(neg))
    assert abs(auc - row["roc_auc"]) < 1e-6


def test_winnowing_density_and_coverage(spark, sf_dir):
    """Every doc fingerprints between (0, 1] of its windows, the
    corpus mean density sits near the 2/(W+1) theory line, and shared
    fingerprints never exceed a doc's own selection."""
    from cdc_realtime_pipeline_spark.operators.text_ops import (
        _WINNOW_W,
        text_winnowing_fingerprint,
    )

    rows = text_winnowing_fingerprint(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    for r in rows:
        if r["n_windows"] > 0:
            assert 1 <= r["n_fingerprints"] <= r["n_windows"]
            assert 0.0 < r["density"] <= 1.0
        assert 0 <= r["n_shared"] <= r["n_fingerprints"]
    dens = [r["density"] for r in rows if r["n_windows"] > 0]
    mean_d = sum(dens) / len(dens)
    theory = 2.0 / (_WINNOW_W + 1)
    assert 0.5 * theory < mean_d < 2.0 * theory


def test_fellegi_sunter_separates_planted_matches(spark, sf_dir):
    """The estimated-weight bands separate truth: the top band holds
    every exact-copy pair at match_rate 1.0, no other band holds any,
    and the pair mass accounts for the whole candidate population."""
    from cdc_realtime_pipeline_spark.operators.dedup import (
        dedup_docs_jaccard,
        linkage_fellegi_sunter,
    )

    rows = sorted(
        linkage_fellegi_sunter(spark, sf_dir).collect(),
        key=lambda r: r["weight_band"],
    )
    assert rows
    top, below = rows[-1], rows[:-1]
    assert top["match_rate"] == 1.0
    assert all(r["n_matches"] == 0 for r in below)
    n_pairs = dedup_docs_jaccard(spark, sf_dir).count()
    assert sum(r["n_pairs"] for r in rows) == n_pairs
    for r in rows:
        assert r["w_min"] <= r["w_max"]
        assert math.floor(r["w_min"] + 1e-9) == r["weight_band"]


def test_nb_confusion_partitions_test_split(spark, sf_dir):
    """Confusion cells partition the held-out split exactly, per-row
    fractions sum to 1 within each true lang, and predictions only
    come from languages seen in training."""
    from cdc_realtime_pipeline_spark.operators.text_ops import (
        _NB_TEST_MOD,
        lang_nb_confusion,
    )

    rows = lang_nb_confusion(spark, sf_dir).collect()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_test = docs.filter(F.col("doc_id") % _NB_TEST_MOD == 0).count()
    assert sum(r["n_docs"] for r in rows) == n_test
    train_langs = {
        r["lang"]
        for r in docs.filter(F.col("doc_id") % _NB_TEST_MOD != 0)
        .select("lang")
        .distinct()
        .collect()
    }
    by_true: dict[str, float] = {}
    for r in rows:
        assert r["pred_lang"] in train_langs
        assert r["agree"] == int(r["true_lang"] == r["pred_lang"])
        by_true[r["true_lang"]] = by_true.get(r["true_lang"], 0.0) + r[
            "cell_frac"
        ]
    for lang, frac in by_true.items():
        assert abs(frac - 1.0) < 0.01, (lang, frac)
