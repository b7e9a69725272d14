"""Detector-tier tests (SURVEY.md §2.4 D1-D10) on the canonical
reference fixtures (monotonic / spike / short / empty)."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from potoos_spark import DetectorConfig, PotoosSession, register_detector, score
from potoos_spark.detectors.windows import extract_anomalies
from potoos_spark.operators.asof import asof_join


def by_ts(df):
    return {r.ts_ms: r.score for r in df.collect()}


def test_absolute_threshold_scores(spike4):
    cfg = DetectorConfig(
        algorithm_name="absolute_threshold",
        algorithm_params={"absolute_threshold_value_upper": 50.0,
                          "absolute_threshold_value_lower": 15.0},
    )
    got = by_ts(score(spike4, cfg))
    assert got == {1000: 5.0, 2000: 0.0, 3000: 0.0, 4000: 50.0}


def test_exp_avg_scores_match_recurrence(spike4):
    got = by_ts(score(spike4, DetectorConfig(algorithm_name="exp_avg_detector")))
    # ema (alpha=.2): 10, 12, 15.6, 32.48 ; std = stddev_samp([10,20,30,100])
    vals = [10.0, 20.0, 30.0, 100.0]
    mean = sum(vals) / 4
    std = math.sqrt(sum((v - mean) ** 2 for v in vals) / 3)
    ema = [10.0]
    for v in vals[1:]:
        ema.append(0.2 * v + 0.8 * ema[-1])
    expected = {t: abs(v - e) / std for t, v, e in zip((1000, 2000, 3000, 4000), vals, ema)}
    assert got == pytest.approx(expected)
    # spike scores highest
    assert max(got, key=got.get) == 4000


def test_derivative_flags_spike(spike4, series4):
    got = by_ts(score(spike4, DetectorConfig()))  # default = derivative_detector
    assert max(got, key=got.get) == 4000
    # monotonic ramp has constant derivative → scores all ~equal and small
    mono = by_ts(score(series4.drop("seq"), DetectorConfig()))
    assert max(mono.values()) < max(got.values())


def test_default_detector_is_ensemble(spike4):
    s_def = by_ts(score(spike4, DetectorConfig(algorithm_name="default_detector")))
    s_exp = by_ts(score(spike4, DetectorConfig(algorithm_name="exp_avg_detector")))
    s_der = by_ts(score(spike4, DetectorConfig(algorithm_name="derivative_detector")))
    for t in s_def:
        assert s_def[t] == pytest.approx((s_exp[t] + s_der[t]) / 2)


def test_diff_percent_threshold_with_baseline(spark, spike4):
    baseline = spark.createDataFrame(
        [("k", 1000, 10.0), ("k", 2000, 20.0), ("k", 3000, 30.0), ("k", 4000, 40.0)],
        "series_key string, ts_ms bigint, value double",
    )
    cfg = DetectorConfig(
        algorithm_name="diff_percent_threshold",
        algorithm_params={"percent_threshold_upper": 50.0},
    )
    got = by_ts(score(spike4, cfg, baseline=baseline))
    # only the spike deviates >50%: (100-40)/40 = 150% → score 100
    assert got == pytest.approx({1000: 0.0, 2000: 0.0, 3000: 0.0, 4000: 100.0})


def test_sign_test_detects_sustained_shift(spark):
    pts = [("k", i * 1000, 10.0 if i < 10 else 30.0) for i in range(20)]
    base = [("k", i * 1000, 10.0) for i in range(20)]
    df = spark.createDataFrame(pts, "series_key string, ts_ms bigint, value double")
    bl = spark.createDataFrame(base, "series_key string, ts_ms bigint, value double")
    cfg = DetectorConfig(algorithm_name="sign_test",
                         algorithm_params={"window_size": 5})
    got = by_ts(score(df, cfg, baseline=bl))
    assert got[19000] > 0  # sustained exceedance late in series
    assert got[4000] == 0.0  # warm-up window scores 0


def test_bitmap_detector_runs_and_flags_shift(spark):
    vals = [10.0] * 60 + [50.0] * 10 + [10.0] * 60
    pts = [("k", i * 1000, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(pts, "series_key string, ts_ms bigint, value double")
    cfg = DetectorConfig(
        algorithm_name="bitmap_detector",
        algorithm_params={"lag_window_size": 20, "future_window_size": 20},
    )
    got = by_ts(score(df, cfg))
    peak = max(got, key=got.get)
    assert 50_000 <= peak <= 80_000  # near the level shift
    assert got[0] == 0.0  # outside full windows


def test_window_extraction_islands(spark):
    scores = [
        ("k", 1000, 1.0, 0.0),
        ("k", 2000, 1.0, 5.0),
        ("k", 3000, 1.0, 7.0),
        ("k", 4000, 1.0, 0.0),
        ("k", 5000, 1.0, 4.0),
    ]
    df = spark.createDataFrame(scores, "series_key string, ts_ms bigint, value double, score double")
    got = sorted(
        [tuple(r) for r in extract_anomalies(df, score_threshold=3.0).collect()]
    )
    assert got == [("k", 2000, 3000, 3000, 7.0), ("k", 5000, 5000, 5000, 4.0)]
    # percent threshold: 50% of max(7) = 3.5 → same islands
    got_pct = sorted(
        [tuple(r) for r in extract_anomalies(df, score_percent_threshold=0.5).collect()]
    )
    assert got_pct == got


def test_window_extraction_duplicate_timestamps_and_series_max(spark):
    # duplicate timestamps order by score, so a below-threshold row at
    # ts 2000 precedes the above one and splits the run there whatever
    # the input order; the percent threshold uses the whole series' max,
    # not a running max (which would flag m's first row)
    scores = [
        ("k", 1000, 1.0, 5.0),
        ("k", 2000, 1.0, 4.0),
        ("k", 2000, 1.0, 0.0),
        ("k", 3000, 1.0, 6.0),
        ("k", 4000, 1.0, 0.0),
        ("m", 1000, 1.0, 2.0),
        ("m", 2000, 1.0, 10.0),
    ]
    df = spark.createDataFrame(
        scores, "series_key string, ts_ms bigint, value double, score double"
    ).coalesce(1)
    got = sorted(
        tuple(r) for r in extract_anomalies(df, score_threshold=3.0).collect()
    )
    assert got == [
        ("k", 1000, 1000, 1000, 5.0),
        ("k", 2000, 3000, 3000, 6.0),
        ("m", 2000, 2000, 2000, 10.0),
    ]
    got_pct = sorted(
        tuple(r)
        for r in extract_anomalies(df, score_percent_threshold=0.5).collect()
    )
    assert got_pct == got  # k: 0.5 x 6 = 3 as above; m: 0.5 x 10 = 5


def test_refine_pass(spark):
    pts = [("k", t, v) for t, v in
           [(1000, 10.0), (2000, 20.0), (3000, 90.0), (4000, 80.0), (5000, 10.0)]]
    df = spark.createDataFrame(pts, "series_key string, ts_ms bigint, value double")
    sess = PotoosSession(spark)
    cfg = DetectorConfig(
        algorithm_name="absolute_threshold",
        algorithm_params={"absolute_threshold_value_upper": 50.0},
        score_threshold=1.0,
        refine_algorithm_name="absolute_threshold",
        refine_algorithm_params={"absolute_threshold_value_upper": 0.0},
    )
    res = sess.detect(df, cfg)
    rows = res.anomalies.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.start_ts_ms, r.end_ts_ms) == (3000, 4000)
    assert r.exact_ts_ms == 3000  # refined peak = max raw value
    assert r.anomaly_score == 90.0


def test_score_only_skips_windows(spark, spike4):
    sess = PotoosSession(spark)
    cfg = DetectorConfig(score_only=True)
    res = sess.detect(spike4, cfg)
    assert res.anomalies is None
    assert res.scores.count() == 4


def test_asof_join_backward_and_tolerance(spark):
    left = spark.createDataFrame(
        [("k", 1500, 1.0), ("k", 3500, 2.0), ("k", 900, 3.0)],
        "series_key string, ts_ms bigint, value double",
    )
    right = spark.createDataFrame(
        [("k", 1000, 10.0), ("k", 3000, 30.0)],
        "series_key string, ts_ms bigint, base double",
    )
    got = {r.ts_ms: r.base for r in asof_join(left, right, on="series_key").collect()}
    assert got == {900: None, 1500: 10.0, 3500: 30.0}
    got_tol = {
        r.ts_ms: r.base
        for r in asof_join(left, right, on="series_key", tolerance_ms=400).collect()
    }
    assert got_tol == {900: None, 1500: None, 3500: None}

    fwd = {r.ts_ms: r.base
           for r in asof_join(left, right, on="series_key", direction="forward").collect()}
    assert fwd == {900: 10.0, 1500: 30.0, 3500: None}


def test_mad_scores(series4):
    # values [10,20,30,40]: low median = 20; devs [10,0,10,20] → MAD = 10
    got = by_ts(score(series4.drop("seq"), DetectorConfig(algorithm_name="mad")))
    denom = 1.4826 * 10.0
    expected = {1000: 10.0 / denom, 2000: 0.0, 3000: 10.0 / denom, 4000: 20.0 / denom}
    assert got == pytest.approx(expected)


def test_mad_zero_mad_scores_zero(spark):
    # constant series: median = v, all devs 0 → MAD 0 → all scores 0
    rows = [("k", t, 5.0) for t in (1000, 2000, 3000)]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = by_ts(score(df, DetectorConfig(algorithm_name="mad")))
    assert got == {1000: 0.0, 2000: 0.0, 3000: 0.0}


def test_seasonal_naive_scores(spark):
    # period=2: rows 3,4 compare to rows 1,2; range = 40-10 = 30
    rows = [("k", 1000, 10.0), ("k", 2000, 20.0), ("k", 3000, 30.0), ("k", 4000, 40.0)]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = by_ts(
        score(
            df,
            DetectorConfig(
                algorithm_name="seasonal_naive", algorithm_params={"period": 2}
            ),
        )
    )
    assert got == pytest.approx(
        {1000: 0.0, 2000: 0.0, 3000: 20.0 / 30.0, 4000: 20.0 / 30.0}
    )


def test_hampel_flags_isolated_spike(spark):
    # flat series with one spike; rolling low-median is 5.0 everywhere,
    # MAD > 0 only in windows containing the spike
    rows = [("k", t * 1000, 5.0) for t in range(1, 10)]
    rows[4] = ("k", 5000, 50.0)
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = by_ts(
        score(
            df,
            DetectorConfig(algorithm_name="hampel", algorithm_params={"half_window": 2}),
        )
    )
    # at the spike: window [3000..7000] sorted = [5,5,5,5,50], med=5,
    # devs sorted = [0,0,0,0,45], MAD = 0 → score 0 by the zero-MAD guard;
    # neighbors (windows of 5 containing one 50) likewise MAD 0.
    assert all(v == 0.0 for v in got.values())
    # a noisier window gives nonzero MAD: alternate values
    rows = [("k", t * 1000, float(5 + (t % 2))) for t in range(1, 10)]
    rows[4] = ("k", 5000, 50.0)
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = by_ts(
        score(
            df,
            DetectorConfig(algorithm_name="hampel", algorithm_params={"half_window": 2}),
        )
    )
    assert got[5000] > 3.0  # spike stands out against MAD≈1 noise
    assert got[2000] < 3.0


def test_cusum_accumulates_on_level_shift(spark):
    # flat at 10 then shifted to 20: score grows through the shifted
    # run (cumulative), unlike point-wise detectors
    rows = [("k", t * 1000, 10.0) for t in range(1, 7)] + [
        ("k", t * 1000, 20.0) for t in range(7, 13)
    ]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = by_ts(score(df, DetectorConfig(algorithm_name="cusum")))
    # mu (low median) = 10, range = 10, k = 0.5 → dev_pos = (20-10)-0.5 = 9.5
    # per shifted point; score_i = cumulative/10
    assert got[7000] == pytest.approx(0.95)
    assert got[12000] == pytest.approx(0.95 * 6)
    # pre-shift: dev_pos = -0.5 → clamped to 0; negative side (10-10)-0.5 < 0
    assert got[3000] == 0.0


def test_cusum_constant_series_scores_zero(spark):
    rows = [("k", t, 7.0) for t in (1000, 2000, 3000, 4000)]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    assert by_ts(score(df, DetectorConfig(algorithm_name="cusum"))) == {
        1000: 0.0, 2000: 0.0, 3000: 0.0, 4000: 0.0
    }


def test_holt_winters_absorbs_linear_trend(spark):
    # a perfect linear ramp: after trend warm-up, forecast error → small;
    # the derivative detector (no trend term) scores the SAME ramp high
    rows = [("k", t * 1000, 10.0 * t) for t in range(1, 41)]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    hw = by_ts(score(df, DetectorConfig(algorithm_name="holt_winters")))
    # late-ramp scores shrink as level+trend lock on
    assert hw[40_000] < hw[3000]
    assert hw[40_000] < 0.01
    # trend BREAK spikes: flat after the ramp
    rows2 = rows + [("k", t * 1000, 400.0) for t in range(41, 46)]
    df2 = spark.createDataFrame(rows2, "series_key string, ts_ms bigint, value double")
    hw2 = by_ts(score(df2, DetectorConfig(algorithm_name="holt_winters")))
    assert hw2[41_000] > hw2[40_000] * 5


def test_nearest_asof_picks_closer_side_ties_backward(spark):
    from potoos_spark.operators.asof import nearest_asof_join

    left = spark.createDataFrame(
        [("k", 100, 1.0), ("k", 205, 2.0), ("k", 300, 3.0)],
        "k string, ts_ms bigint, lv double",
    )
    right = spark.createDataFrame(
        [("k", 90, 10.0), ("k", 210, 20.0), ("k", 400, 40.0)],
        "k string, ts_ms bigint, rv double",
    )
    got = {r["ts_ms"]: r["rv"] for r in
           nearest_asof_join(left, right, on="k").collect()}
    assert got[100] == 10.0   # 10 behind vs 110 ahead → backward
    assert got[205] == 20.0   # 115 behind vs 5 ahead → forward
    assert got[300] == 20.0   # 90 behind vs 100 ahead → backward
    # exact tie goes backward
    left2 = spark.createDataFrame([("k", 150, 0.0)], "k string, ts_ms bigint, lv double")
    right2 = spark.createDataFrame(
        [("k", 100, 1.0), ("k", 200, 2.0)], "k string, ts_ms bigint, rv double"
    )
    got2 = nearest_asof_join(left2, right2, on="k").collect()[0]["rv"]
    assert got2 == 1.0


def test_bitmap_detector_nan_point_does_not_corrupt_words(spark):
    """Chunks touching a NaN point must contribute NO word — NaN cast to
    int64 would alias to a valid symbol after base-p wraparound."""
    import math

    from potoos_spark.detectors.sequential import bitmap_detector

    n = 60
    rows = [
        ("k", 1000 * i, float("nan") if i == 30 else float((i * 13) % 7))
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    out = bitmap_detector(
        df, lag_window_size=10, future_window_size=10, chunk_size=2
    ).collect()
    assert len(out) == n
    for r in out:
        assert r["score"] is None or not math.isinf(r["score"])


def test_sequential_detectors_deterministic_on_duplicate_timestamps(spark):
    """Duplicate timestamps must order by seq identically on every run —
    the recurrences are order-dependent."""
    from potoos_spark.detectors.sequential import exp_avg_detector

    rows = [("k", 1000, 5.0, 1), ("k", 1000, 50.0, 2), ("k", 2000, 7.0, 3)]
    df = spark.createDataFrame(
        rows, "series_key string, ts_ms bigint, value double, seq bigint"
    )
    runs = [
        tuple(sorted((r["ts_ms"], r["value"], r["score"])
                     for r in exp_avg_detector(df.repartition(p)).collect()))
        for p in (1, 7)
    ]
    assert runs[0] == runs[1]


def test_refine_pass_isolates_windows_for_rolling_refiners(spark):
    """A rolling refiner must not bridge two separate anomaly windows:
    the second window's points cannot influence the first's peak."""
    from potoos_spark.detectors.windows import refine_anomalies

    pts = [("k", 1000 * i, 10.0 if i in (3, 4) else 1.0) for i in range(10)]
    pts += [("k", 1_000_000 + 1000 * i, 500.0 if i == 2 else 1.0) for i in range(6)]
    points = spark.createDataFrame(
        pts, "series_key string, ts_ms bigint, value double"
    )
    anomalies = spark.createDataFrame(
        [("k", 3000, 4000, 3000, 1.0), ("k", 1_002_000, 1_002_000, 1_002_000, 1.0)],
        "series_key string, start_ts_ms bigint, end_ts_ms bigint, "
        "exact_ts_ms bigint, anomaly_score double",
    )
    out = refine_anomalies(points, anomalies, "mad")
    rows = {r["start_ts_ms"]: r for r in out.collect()}
    assert set(rows) == {3000, 1_002_000}
    # window 1's refined peak must come from window-1 points only: with
    # per-window MAD both points are equal (10.0), peak = earliest
    assert rows[3000]["exact_ts_ms"] == 3000


def test_score_calibration_uniform_and_monotone(spark):
    """Calibrated scores are the within-series percentile rank: bounded
    to [0, 1] with min 0 and max 1, and order-preserving in the raw
    score (a higher raw score never calibrates lower)."""
    from potoos_spark.catalog.detectors import _calibrated_fn
    from tests.conftest import SF_DIR

    rows = _calibrated_fn(spark, SF_DIR).collect()
    assert rows
    by_series: dict = {}
    for r in rows:
        by_series.setdefault(r["series_key"], []).append(r)
    for srs in by_series.values():
        cal = [r["calibrated"] for r in srs]
        assert min(cal) == 0.0 and max(cal) == 1.0
        srs.sort(key=lambda r: (r["score"], r["ts_ms"]))
        assert all(a["calibrated"] <= b["calibrated"] for a, b in zip(srs, srs[1:]))


def test_merge_incidents_overlap_bridge_and_separation(spark):
    """Overlapping windows from different series merge into one
    incident; a window starting after every prior end opens a new one;
    bridge_ms closes sub-bridge gaps. Counts cover windows and distinct
    series; the peak is the incident-wide max score."""
    from potoos_spark.detectors.windows import merge_incidents

    wins = spark.createDataFrame(
        [
            ("a", 0, 100, 50, 3.0),
            ("b", 50, 150, 60, 5.0),     # overlaps a's window -> same incident
            ("a", 400, 500, 450, 2.0),   # separated -> new incident
            ("c", 505, 600, 510, 4.0),   # within bridge=10 of 500
        ],
        "series_key string, start_ts_ms bigint, end_ts_ms bigint, "
        "exact_ts_ms bigint, anomaly_score double",
    )
    plain = {r["incident_start_ms"]: r for r in merge_incidents(wins).collect()}
    assert set(plain) == {0, 400, 505}
    assert plain[0]["n_windows"] == 2 and plain[0]["n_series"] == 2
    assert plain[0]["incident_end_ms"] == 150 and plain[0]["peak_score"] == 5.0

    bridged = {r["incident_start_ms"]: r for r in merge_incidents(wins, 10).collect()}
    assert set(bridged) == {0, 400}
    assert bridged[400]["incident_end_ms"] == 600
    assert bridged[400]["n_series"] == 2


def test_macd_recurrence_matches_pure_python(spark):
    """MACD(12,26,9) equals the pure-python recurrence bit-for-bit and
    a sustained ramp drives macd (fast EMA over slow) positive."""
    from potoos_spark.detectors.sequential import (
        MACD_A_FAST, MACD_B_FAST, MACD_A_SLOW, MACD_B_SLOW,
        MACD_A_SIG, MACD_B_SIG, macd_frame,
    )

    vals = [10.0 + (i % 5) + (i * 0.5 if i > 20 else 0.0) for i in range(40)]
    rows = [("k", 1000 * i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")
    got = {r.ts_ms: (r.macd, r.signal, r.histogram) for r in macd_frame(df).collect()}

    ef = es = vals[0]; s = 0.0
    assert got[0] == (0.0, 0.0, 0.0)
    for i in range(1, len(vals)):
        ef = MACD_A_FAST * vals[i] + MACD_B_FAST * ef
        es = MACD_A_SLOW * vals[i] + MACD_B_SLOW * es
        m = ef - es
        s = MACD_A_SIG * m + MACD_B_SIG * s
        assert got[1000 * i] == (m, s, m - s)
    assert got[39_000][0] > 0  # ramp: fast EMA above slow
