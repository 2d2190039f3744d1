"""Round-12 regression tests for the VERDICT r11 watch items.

1. `alerts_rapid_trades_reset` streams Arrow chunks instead of
   pd.concat-ing the whole hash partition (VERDICT r11 #1 / next #3):
   the kernel must produce identical alerts when
   `spark.sql.execution.arrow.maxRecordsPerBatch` is forced small
   enough that a single key's qualifying run provably spans chunks.
2. `dedup_embeddings_cosine` band-width parameterization (VERDICT r11
   next #5): a non-default (bits, bands) geometry must still hash
   identical to the exact O(n²) audit path, and the derived default
   must track corpus size.
"""

from __future__ import annotations

import datetime
import os

import pytest


@pytest.fixture(scope="module")
def rapid_events_dir(spark, tmp_path_factory):
    """An events fixture engineered so every interesting run spans
    Arrow chunks at maxRecordsPerBatch=2: user 100 has a 7-event
    in-window run (fires once at cnt==3, never re-fires on 4..7),
    user 200 resets mid-run via a window-sized gap then fires in the
    post-gap run, user 300 never reaches N=3 inside a window."""
    from cdc_realtime_pipeline_spark.operators.anomaly import (
        _RAPID_WINDOW_MS,
    )

    base = datetime.datetime(2024, 1, 1)

    def at(ms):
        return base + datetime.timedelta(milliseconds=ms)

    step = _RAPID_WINDOW_MS // 10  # comfortably inside the window
    gap = _RAPID_WINDOW_MS + 1_000  # past the window → reset
    rows = []
    # user 100: 7 ticks in-window -> counter 1..7, fires at cnt==3
    # (event 3) and NOT again (==N fire-once), then window expiry at
    # t=0 anchor never happens (all inside) -> exactly one alert
    for i in range(7):
        rows.append((100 + i, at(i * step), 100, "tick", 1.0, "{}"))
    # user 200: 2 ticks, a reset gap, then 3 ticks -> the post-gap
    # run fires at its 3rd event
    for i in range(2):
        rows.append((200 + i, at(i * step), 200, "tick", 1.0, "{}"))
    for i in range(3):
        rows.append((210 + i, at(gap + i * step), 200, "tick", 1.0, "{}"))
    # user 300: ticks spaced past the window -> never fires
    for i in range(5):
        rows.append((300 + i, at(i * gap), 300, "tick", 1.0, "{}"))
    out = str(tmp_path_factory.mktemp("rapid_events"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    return out


def _rapid_alerts(spark, sf_dir):
    from cdc_realtime_pipeline_spark.operators.anomaly import (
        alerts_rapid_trades_reset,
    )

    return sorted(
        (r.market, r.trade_id, r.value)
        for r in alerts_rapid_trades_reset(spark, sf_dir).collect()
    )


@pytest.mark.slow
def test_rapid_trades_reset_streams_across_arrow_chunks(
    spark, rapid_events_dir
):
    """With maxRecordsPerBatch=2 every user's run spans ≥3 Arrow
    chunks, so (prev_uid, win_start, cnt) must survive chunk
    boundaries; expected alerts derived by hand from the reference
    recurrence (AnomalyDetector.java:156-175, N=3)."""
    expected = [(100, 102, 3.0), (200, 212, 3.0)]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        assert _rapid_alerts(spark, rapid_events_dir) == expected
    finally:
        spark.conf.set(key, old)
    # and identical with the default batch size (single chunk)
    assert _rapid_alerts(spark, rapid_events_dir) == expected


def test_rapid_trades_reset_chunked_matches_default_on_fixture(
    spark, sf_dir
):
    """On the real sf0.001 fixture the chunked walk must be
    value-identical to the single-chunk walk (same alerts whether a
    partition arrives as 1 batch or many)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")  # prime, small → keys span chunks
        chunked = _rapid_alerts(spark, sf_dir)
    finally:
        spark.conf.set(key, old)
    assert chunked == _rapid_alerts(spark, sf_dir)


def test_lsh_band_geometry_formula_pins():
    """Pin the derived-geometry formula (VERDICT r11 #5): test-SF
    corpora keep the historical (8, 16); bits widen with corpus count
    to hold buckets; and every derived geometry keeps the analytic
    miss bound at tau under the target."""
    import math

    from cdc_realtime_pipeline_spark.operators.similarity import (
        _LSH_MISS_TARGET,
        _LSH_TARGET_BUCKET,
        lsh_band_geometry,
    )

    # every fixture scale derives the historical geometry → results
    # on the test SFs are bit-identical to rounds 2-11
    for n in (250, 2500, 25000, 65536):
        assert lsh_band_geometry(n) == (8, 16)

    tau = 0.95
    p = math.acos(tau) / math.pi
    prev_bits = 0
    for n in (10**5, 10**6, 10**8, 10**9):
        bits, bands = lsh_band_geometry(n, tau)
        # buckets hold: expected unrelated-pair bucket <= target
        assert n / 2**bits <= _LSH_TARGET_BUCKET
        # recall holds AT the decision threshold: miss(tau) <= target
        q = (1.0 - p) ** bits
        assert (1.0 - q) ** bands <= _LSH_MISS_TARGET
        assert bits >= prev_bits
        prev_bits = bits


def test_banded_cosine_non_default_geometry_matches_exact(spark, sf_dir):
    """A non-default (bits, bands) = (12, 27) geometry must still
    produce the exact path's pair set on the sf0.001 fixture — the
    banded path is a candidate generator, never a decision maker, at
    ANY geometry whose miss bound holds."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        dedup_embeddings_cosine,
    )

    def key(df):
        return sorted((r.vec_a, r.vec_b, r.cos) for r in df.collect())

    banded = key(dedup_embeddings_cosine(spark, sf_dir, bits=12, bands=27))
    exact = key(dedup_embeddings_cosine(spark, sf_dir, exact=True))
    assert banded == exact
    assert len(exact) > 0  # planted near-dups keep the check non-vacuous


def test_lsh_band_geometry_bits_override_keeps_miss_bound():
    """Round-12 review fix: a caller pinning only `bits` must get a
    band count derived from the EFFECTIVE bits — pairing caller bits
    with bands derived for the default width silently loses the
    miss(tau) guarantee."""
    import math

    from cdc_realtime_pipeline_spark.operators.similarity import (
        _LSH_MISS_TARGET,
        lsh_band_geometry,
    )

    tau = 0.95
    p = math.acos(tau) / math.pi
    for forced_bits in (10, 16, 24):
        bits, bands = lsh_band_geometry(65536, tau, bits=forced_bits)
        assert bits == forced_bits
        q = (1.0 - p) ** bits
        assert (1.0 - q) ** bands <= _LSH_MISS_TARGET


def test_lsh_band_geometry_tau_endpoints_do_not_crash():
    """tau at the clamped endpoints must degrade gracefully (finite,
    PRACTICAL geometry — round 13 caps the derived band count at
    _LSH_MAX_BANDS, ADVICE r12), not raise log(0)/division-by-zero
    and not return an astronomically large band count."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        _LSH_MAX_BANDS,
        lsh_band_geometry,
    )

    for tau in (1.0, -1.0, 1.5, -2.0):
        bits, bands = lsh_band_geometry(65536, tau)
        assert bits >= 8 and 4 <= bands <= _LSH_MAX_BANDS


def test_banded_cosine_bits_only_override_matches_exact(spark, sf_dir):
    """End-to-end: pinning only `bits` (bands derived from it) must
    still reproduce the exact path's pair set."""
    from cdc_realtime_pipeline_spark.operators.similarity import (
        dedup_embeddings_cosine,
    )

    def key(df):
        return sorted((r.vec_a, r.vec_b, r.cos) for r in df.collect())

    assert key(dedup_embeddings_cosine(spark, sf_dir, bits=10)) == key(
        dedup_embeddings_cosine(spark, sf_dir, exact=True)
    )


def test_release_memos_clears_registered_session_caches(spark, sf_dir):
    """The embeddings count is a session memo slot: release_memos()
    must drop it so fixture-rewriting tools can't serve a stale count
    into the derived geometry."""
    from cdc_realtime_pipeline_spark.operators.similarity import _corpus_count
    from cdc_realtime_pipeline_spark.session import (
        load_table,
        memo_persist,
        release_memos,
    )

    release_memos()
    memo_persist("emb_count", spark, sf_dir, lambda: 12345)  # a stale count
    assert _corpus_count(spark, sf_dir) == 12345
    release_memos()
    assert _corpus_count(spark, sf_dir) == (
        load_table(spark, sf_dir, "embeddings").count()
    )
