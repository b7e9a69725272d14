"""API-surface parity tests mirroring the reference's orchestration
suite (/root/reference/tests/test_client.py): source check, config
resolution/override, and the D8 custom-algorithm plugin paths."""

from __future__ import annotations

import random

import pytest

from pyspark.sql import functions as F

from potoos_spark import (
    DetectorConfig,
    PotoosSession,
    TimeSeriesConfig,
    register_detector,
    score,
)
from potoos_spark.detectors.windows import extract_anomalies, refine_anomalies
from potoos_spark.operators import retrieval as R


def test_check_source_rejects_non_series_frame(spark):
    # reference: missing timeseries module -> RuntimeError (client.py:31-35)
    bad = spark.createDataFrame([(1, 2)], "a int, b int")
    with pytest.raises(RuntimeError, match="missing columns"):
        PotoosSession(spark).read_series(bad)


def test_monitor_per_call_config_overrides_default(spark, series4):
    # reference: ts_config argument wins over the instance default
    # (client.py:130; test_client.py:239-255)
    sess = PotoosSession(
        spark, ts_config=TimeSeriesConfig(filter_by_min_value=1e9)  # filters all
    )
    empty = sess.read_series(series4)
    assert empty.count() == 0
    override = sess.read_series(series4, TimeSeriesConfig())
    assert override.count() == 4


def test_algorithm_class_callable_dispatch(spark, series4):
    # D8 direct callable (reference config.py:90, validation :99-100)
    def doubled(df, **params):
        return df.select(
            "series_key", "ts_ms", "value", (F.col("value") * 2).alias("score")
        )

    out = score(series4, DetectorConfig(algorithm_class=doubled))
    rows = {r["ts_ms"]: r["score"] for r in out.collect()}
    assert rows[1000] == 20.0 and rows[4000] == 80.0


def test_register_detector_plugin_dispatch(spark, series4):
    # D8 named registration: plugins dispatch identically to built-ins
    @register_detector("unit_test_constant")
    def constant(df, c=7.0):
        return df.select(
            "series_key", "ts_ms", "value", F.lit(float(c)).alias("score")
        )

    cfg = DetectorConfig(
        algorithm_name="unit_test_constant", algorithm_params={"c": 3.0}
    )
    out = score(series4, cfg)
    assert {r["score"] for r in out.collect()} == {3.0}


def test_unknown_algorithm_name_raises():
    with pytest.raises(ValueError, match="unknown algorithm_name"):
        DetectorConfig(algorithm_name="nope")


def test_error_propagation_through_monitor(spark):
    # reference: exceptions propagate transparently (test_client.py:257-267)
    sess = PotoosSession(spark)
    with pytest.raises(RuntimeError):
        sess.monitor(spark.createDataFrame([(1,)], "x int"))


def test_register_tables_enables_sql(spark):
    from potoos_spark import PotoosSession

    from tests.conftest import SF_DIR

    sess = PotoosSession(spark)
    tables = sess.register_tables(SF_DIR)
    assert set(tables) >= {"lineitem", "orders", "events"}
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == tables["lineitem"].count() > 0
    joined = spark.sql(
        "SELECT COUNT(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0]["n"]
    assert joined > 0


# --- monitor()/detect(): one detector pass, same rows as the pieces -------

STEP_MS, BUCKET_MS = 1_000, 5_000
_RAW_BOUNDS = {
    "absolute_threshold_value_upper": 80.0,
    "absolute_threshold_value_lower": 20.0,
}
_BUCKETED = TimeSeriesConfig(aggregation_type="avg", bucket_size_msec=BUCKET_MS)
_RAW = TimeSeriesConfig()
MONITOR_CASES = {
    "percent": (_BUCKETED, DetectorConfig(score_percent_threshold=0.5)),
    "absolute": (_BUCKETED, DetectorConfig(score_threshold=1.0)),
    "neither": (_BUCKETED, DetectorConfig(algorithm_name="exp_avg_detector")),
    "refine": (
        _BUCKETED,
        DetectorConfig(
            score_percent_threshold=0.5,
            refine_algorithm_name="absolute_threshold",
            refine_algorithm_params=_RAW_BOUNDS,
        ),
    ),
    "score_only": (_BUCKETED, DetectorConfig(score_only=True)),
    # unbucketed: duplicate timestamps reach the island ordering; an
    # order-free detector keeps their scores deterministic
    "raw_absolute": (
        _RAW,
        DetectorConfig(
            algorithm_name="absolute_threshold",
            algorithm_params=_RAW_BOUNDS,
            score_threshold=5.0,
        ),
    ),
    "raw_percent": (
        _RAW,
        DetectorConfig(
            algorithm_name="absolute_threshold",
            algorithm_params=_RAW_BOUNDS,
            score_percent_threshold=0.4,
        ),
    ),
}


@pytest.fixture(scope="module")
def fleet(spark):
    """Seeded series with spikes and dips, duplicate timestamps in s0,
    one constant series (all-zero scores) and one series shorter than
    ``min_points``. Integer values keep bucket averages exact under any
    summation order."""
    rng = random.Random(20261020)
    rows = []
    for s in range(3):
        for i in range(60):
            v = 50 + rng.randint(-5, 5)
            if rng.random() < 0.1:
                v += rng.choice((-45, 60))
            rows.append((f"s{s}", i * STEP_MS, float(v)))
            if s == 0 and i % 7 == 3:
                rows.append((f"s{s}", i * STEP_MS, float(v + rng.choice((-40, 40)))))
    rows += [("flat", i * STEP_MS, 50.0) for i in range(40)]
    rows += [("short", i * 3 * BUCKET_MS, 99.0) for i in range(3)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "series_key string, ts_ms bigint, value double")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _composed(points, cfg):
    """The public pieces, composed: min_points_guard → score →
    extract_anomalies → refine_anomalies → series_metadata."""
    points = R.min_points_guard(points)
    if cfg.score_only:
        return None, R.series_metadata(points)
    scores = score(points, cfg)
    anomalies = extract_anomalies(
        scores, cfg.score_threshold, cfg.score_percent_threshold
    )
    if cfg.refine_algorithm_name:
        anomalies = refine_anomalies(
            scores, anomalies, cfg.refine_algorithm_name,
            cfg.refine_algorithm_params,
        )
    return anomalies, R.series_metadata(points, anomalies)


@pytest.mark.parametrize("case", sorted(MONITOR_CASES))
def test_monitor_matches_composed_pieces(spark, fleet, case):
    ts_cfg, det_cfg = MONITOR_CASES[case]
    res = PotoosSession(spark).monitor(fleet, ts_cfg, det_cfg)
    anomalies, meta = _composed(R.read_series(fleet, ts_cfg), det_cfg)
    assert res.meta.columns == meta.columns
    got_meta = _rows(res.meta)
    assert got_meta == _rows(meta)
    keys = {r[0] for r in got_meta}
    assert keys == {"s0", "s1", "s2", "flat"}  # short series dropped
    if det_cfg.score_only:
        assert res.anomalies is None
        return
    assert res.anomalies.columns == anomalies.columns
    got = _rows(res.anomalies)
    assert got == _rows(anomalies)
    assert got and "flat" not in {r[0] for r in got}


def test_detect_matches_composed_pieces(spark, fleet):
    ts_cfg, det_cfg = MONITOR_CASES["percent"]
    points = R.read_series(fleet, ts_cfg)
    res = PotoosSession(spark).detect(points, det_cfg)
    anomalies, meta = _composed(points, det_cfg)
    assert _rows(res.anomalies) == _rows(anomalies)
    assert _rows(res.meta) == _rows(meta)


def test_monitor_plan_has_no_global_sort_and_few_jobs(spark, fleet):
    """One poll is one detector pass: no range-partitioned global sort
    anywhere in monitor's plans, and a bounded number of Spark jobs for
    monitor() plus collecting both results (a job count is fixed by the
    plan, not by timing)."""
    ts_cfg, det_cfg = MONITOR_CASES["percent"]
    sc = spark.sparkContext
    group = "test_monitor_plan_jobs"
    sc.setJobGroup(group, "one monitor poll")
    try:
        res = PotoosSession(spark).monitor(fleet, ts_cfg, det_cfg)
        res.anomalies.collect()
        res.meta.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 8
    for frame in (res.scores, res.anomalies, res.meta):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower()
