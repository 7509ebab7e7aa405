"""Independent property pins for the r04 operators (market basket,
autocorrelation, OLS forecast, RFM) — invariants the fixture oracle
can't isolate: closed-form agreement on handcrafted series, metric
identities, quintile balance, and partition invariance.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from stream_processing_project_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE


def test_market_basket_identities(spark):
    """support_xy <= min(support_x, support_y); confidence = xy/x
    exactly; lift symmetric under (a,b) metric swap; pair keys ordered
    a < b; min-support respected."""
    from stream_processing_project_spark.sources.fixtures import load_table

    rows = all_queries()["olap_market_basket"].builder(spark, SF_SMOKE).collect()
    assert rows, "fixture produced no basket pairs at min-support 2"
    n_orders = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_orderkey")
        .distinct()
        .count()
    )
    for r in rows:
        assert r.item_a < r.item_b
        assert r.support_xy >= 2
        assert r.support_xy <= min(r.support_x, r.support_y)
        assert math.isclose(r.confidence, r.support_xy / r.support_x)
        assert math.isclose(
            r.lift, r.support_xy * n_orders / (r.support_x * r.support_y)
        )


def test_autocorrelation_perfect_period_two(spark, tmp_path):
    """A strictly alternating series has ACF(1) = -1 and ACF(2) = +1 —
    the closed form the moment assembly must reproduce bit-for-bit."""
    base_s = 1704067200  # 2024-01-01 00:00:00 UTC, on an hour boundary
    rows = []
    for h in range(48):  # 48 hours alternating 10, 30 events
        n_ev = 10 if h % 2 == 0 else 30
        for i in range(n_ev):
            rows.append((h * 1000 + i, base_s + h * 3600 + 1 + i, "x"))
    df = spark.createDataFrame(rows, "event_id long, sec long, event_type string")
    p = str(tmp_path / "acf")
    (
        df.select(
            "event_id",
            F.timestamp_seconds("sec").alias("ts"),
            F.lit(1).alias("user_id"),
            "event_type",
            F.lit(1.0).alias("value"),
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(p + "/events.parquet")
    )
    out = {
        r.lag: r.acf
        for r in all_queries()["timeseries_autocorrelation"]
        .builder(spark, p)
        .collect()
    }
    assert math.isclose(out[1], -1.0, abs_tol=1e-12)
    assert math.isclose(out[2], 1.0, abs_tol=1e-12)
    assert math.isclose(out[3], -1.0, abs_tol=1e-12)


def test_linear_forecast_recovers_exact_line(spark, tmp_path):
    """Events manufactured so hourly cents lie exactly on
    y = 700x + 400 (in re-origined x) must fit slope 7.00/h in dollars
    with zero residual and forecast the continuation of the line."""
    from stream_processing_project_spark.plans.olap import _OLS_X0

    rows = []
    base_s = _OLS_X0 * 3600
    for i in range(24):
        x = i + 5
        cents = 700 * x + 400
        rows.append((i, base_s + x * 3600 + 1, cents / 100.0))
    df = spark.createDataFrame(rows, "event_id long, sec long, value double")
    p = str(tmp_path / "ols")
    (
        df.select(
            "event_id",
            F.timestamp_seconds("sec").alias("ts"),
            F.lit(1).alias("user_id"),
            F.lit("play").alias("event_type"),
            "value",
            F.lit("{}").alias("props"),
        )
        .write.mode("overwrite")
        .parquet(p + "/events.parquet")
    )
    out = sorted(
        all_queries()["timeseries_linear_forecast"].builder(spark, p).collect(),
        key=lambda r: r.x_future,
    )
    assert len(out) == 3
    for r in out:
        assert math.isclose(r.slope, 700.0, rel_tol=1e-12)
        assert math.isclose(r.intercept, 400.0, rel_tol=1e-9, abs_tol=1e-6)
        assert math.isclose(
            r.forecast_cents, 700.0 * r.x_future + 400.0, rel_tol=1e-12
        )


def test_rfm_scores_balanced_and_partition_invariant(spark):
    """Quintile scores stay in [0,4]; each score's population is within
    the tie-forced tolerance of N/5 for the frequency metric; the whole
    result is identical under an adversarial repartitioning (the
    bucketed_running_sum invariance)."""
    q = all_queries()["olap_rfm_segments"].builder
    base = q(spark, SF_SMOKE).collect()
    n = len(base)
    assert n > 0
    for r in base:
        assert 0 <= r.r_score <= 4
        assert 0 <= r.f_score <= 4
        assert 0 <= r.m_score <= 4
        assert r.rfm_code == r.r_score * 100 + r.f_score * 10 + r.m_score
    # monetary is near-unique per user → quintiles nearly exact
    from collections import Counter

    m_pop = Counter(r.m_score for r in base)
    for s in range(5):
        assert abs(m_pop[s] - n / 5) <= max(5, 0.1 * n), (s, m_pop)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        again = q(spark, SF_SMOKE).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, base)) == sorted(map(tuple, again))


def test_rfm_monotone_in_monetary(spark):
    """A user with strictly larger m_cents never has a smaller m_score
    (score is monotone in the underlying metric by construction)."""
    from stream_processing_project_spark.sources.fixtures import load_table

    per_user = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("m"))
    )
    scores = all_queries()["olap_rfm_segments"].builder(spark, SF_SMOKE)
    joined = scores.join(per_user, "user_id").select("m", "m_score").collect()
    by_m = sorted((r.m, r.m_score) for r in joined)
    for (m1, s1), (m2, s2) in zip(by_m, by_m[1:]):
        if m1 < m2:
            assert s1 <= s2


def test_markov_attribution_removal_effects_bounded(spark):
    """Base conversion probability bounds every removal scenario from
    above (removing a channel can only lose converting paths in this
    redirect-to-null model), effects are non-negative, and the base
    row carries no effect."""
    rows = all_queries()["olap_attribution_markov"].builder(spark, SF_SMOKE).collect()
    by_sc = {r.scenario: r for r in rows}
    assert "base" in by_sc and by_sc["base"].removal_effect_micro is None
    base = by_sc["base"].start_v_micro
    assert 0 <= base <= 1_000_000
    for sc, r in by_sc.items():
        if sc == "base":
            continue
        assert 0 <= r.start_v_micro <= base
        assert r.removal_effect_micro == base - r.start_v_micro


def test_real_bmp_wav_codecs_roundtrip_and_detect_orientation():
    """Pure-codec pins (no Spark): the BMP decoder must flip the
    bottom-up storage back to top-down (top_val distinguishes the
    orientations whenever h > 1), honor the 4-byte row padding, and
    the WAV decoder must WALK chunks past the decoy LIST chunk."""
    from stream_processing_project_spark.operators.multimodal import (
        _decode_bmp,
        _decode_wav,
        _encode_bmp,
        _encode_wav,
    )

    # doc 6: w=3 (stride 12, no pad), h=9; top row = 6, bottom row = 14
    w, h, top, mean = _decode_bmp(_encode_bmp(6))
    assert (w, h) == (3, 9)
    assert top == 6  # an un-flipped decode would report 14
    assert mean == sum((6 + y) % 256 for y in range(9)) * 1000 // 9
    # doc 15: w=2 → 6 real bytes padded to stride 8 — padding must be
    # excluded from the mean
    w, h, top, mean = _decode_bmp(_encode_bmp(15))
    assert (w, top) == (2, 15)
    assert mean == sum((15 + y) % 256 for y in range(h)) * 1000 // h
    rate, n, first, mean_abs = _decode_wav(_encode_wav(7))
    assert (rate, n) == (8000, 800 + 7 % 800)
    assert first == (7 * 7) % 2001 - 1000
    assert mean_abs == sum(
        abs((7 * 7 + i) % 2001 - 1000) for i in range(n)
    ) * 1000 // n


def test_bucketed_running_sum_equals_global_cumsum(spark):
    """Property net for the load-bearing range-partitioned cumsum
    (backs abc_pareto, percent_rank, token_budget, RFM): for random
    values with heavy ties, in both directions, with nulls, the
    bucketed result must equal the plain sorted-prefix reference —
    for ANY boundary set the sketch happens to pick. Every example also
    runs repartitioned to 7 partitions (the rehearsal's adversarial
    layout) and with the order key as a string (the non-numeric
    fallback); an empty frame runs once."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from stream_processing_project_spark.plans.common import (
        bucketed_running_sum,
    )

    rows_strategy = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9_999),  # id (unique via enum)
            st.one_of(
                st.none(), st.integers(min_value=-50, max_value=50)
            ),  # order value, heavy ties + nulls
            st.integers(min_value=0, max_value=1_000),  # summed value
        ),
        min_size=1,
        max_size=60,
    )

    def verify(data, descending, layout):
        df = spark.createDataFrame(data, "id long, k long, v long")
        if layout == "repartition7":
            df = df.repartition(7)
        elif layout == "string_key":
            # zero-padded, so string order == numeric order on -50..50;
            # lpad keeps NULL keys NULL
            df = df.withColumn(
                "k", F.lpad((F.col("k") + 50).cast("string"), 3, "0")
            )
        got, bcol = bucketed_running_sum(
            df, "v", "k", ["id"], descending=descending, n_buckets=4
        )
        got_rows = {r.id: r.cum for r in got.collect()}
        assert len(got_rows) == len(data), layout
        # reference: plain python prefix sums over the exact ordering
        # (k desc/asc nulls last, id asc)
        key = lambda t: (  # noqa: E731
            t[1] is None,
            (-t[1] if descending else t[1]) if t[1] is not None else 0,
            t[0],
        )
        acc = 0
        for i, k, v in sorted(data, key=key):
            acc += v
            assert got_rows[i] == acc, (layout, i, k, v, got_rows[i], acc)

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(rows=rows_strategy, descending=st.booleans())
    def check(rows, descending):
        data = [(i, k, v) for i, (_, k, v) in enumerate(rows)]
        for layout in ("plain", "repartition7", "string_key"):
            verify(data, descending, layout)

    check()
    verify([], False, "plain")
