"""Public API surface (SURVEY.md §2.5), mirroring the reference's
orchestration on top of SparkSession.

Reference parity map:
  O1 PotoosClient(redis, ts_cfg, det_cfg)  → PotoosSession(spark, defaults)
     (/root/reference/potoos/client.py:10-20)
  O2 monitor(key, ts_config)               → monitor(df, ...) — same
     scan→detect→result pipeline, but set-oriented: ALL series in one pass
     (/root/reference/potoos/client.py:113-139)
  O3 _get_time_series                      → read_series()
  O4 _detect_anomalies                     → detect()
  S3 module check                          → check_source(): schema assert
     (/root/reference/potoos/client.py:22-35)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .config import DetectorConfig, TimeSeriesConfig
from .detectors import base as detector_base
from .detectors import windows
from .operators import retrieval

REQUIRED_COLS = {"series_key", "ts_ms", "value"}


@dataclass
class AnomalyResult:
    """Set-oriented analog of the reference ``AnomalyResult``
    (/root/reference/potoos/models/anomaly.py:39-45): three DataFrames
    instead of per-series Python lists."""

    anomalies: DataFrame  # (series_key, start/end/exact ts_ms, anomaly_score)
    scores: DataFrame  # (series_key, ts_ms, value, score) — one row per point
    meta: DataFrame  # A17 per-series metadata


class PotoosSession:
    def __init__(
        self,
        spark: SparkSession,
        ts_config: Optional[TimeSeriesConfig] = None,
        detector_config: Optional[DetectorConfig] = None,
    ) -> None:
        self.spark = spark
        self.ts_config = ts_config or TimeSeriesConfig()
        self.detector_config = detector_config or DetectorConfig()

    # S3: fail fast if the source doesn't carry the series schema
    # (reference raises RuntimeError when the RTS module is missing).
    @staticmethod
    def check_source(df: DataFrame) -> DataFrame:
        missing = REQUIRED_COLS - set(df.columns)
        if missing:
            raise RuntimeError(
                f"source is not a series frame; missing columns {sorted(missing)}"
            )
        return df

    def read_series(
        self, df: DataFrame, ts_config: Optional[TimeSeriesConfig] = None
    ) -> DataFrame:
        return retrieval.read_series(
            self.check_source(df), ts_config or self.ts_config
        )

    def detect(
        self,
        points: DataFrame,
        detector_config: Optional[DetectorConfig] = None,
        baseline: Optional[DataFrame] = None,
        min_points: int = 4,
    ) -> AnomalyResult:
        """O4: score + window extraction + metadata. Series shorter than
        ``min_points`` are dropped (set-oriented form of the reference's
        ValueError guard, client.py:84-85).

        Computes at call time, running the detector once: the scores
        fold into one metadata-scale frame of window rows plus per-series
        point counts (``windows.window_summary``), held in an eager local
        checkpoint (with ``refine_algorithm_name`` the refined windows get
        one of their own). ``anomalies`` is a filter over it and ``meta`` a
        per-series re-aggregation of it, so reading them runs no detector.
        ``scores`` stays lazy: reading it re-runs the detector. The
        checkpoint lives as long as the result: Spark releases it once
        the returned frames are garbage-collected."""
        cfg = detector_config or self.detector_config
        points = retrieval.min_points_guard(self.check_source(points), min_points)
        scores = detector_base.score(points, cfg, baseline=baseline)
        if cfg.score_only:
            meta = retrieval.series_metadata(points).localCheckpoint(eager=True)
            return AnomalyResult(anomalies=None, scores=scores, meta=meta)
        summary = windows.window_summary(
            scores, cfg.score_threshold, cfg.score_percent_threshold
        ).localCheckpoint(eager=True)
        anomalies = windows.summary_windows(summary)
        if cfg.refine_algorithm_name:
            # refine keeps every window's extent, so meta's window count
            # still comes from the summary
            anomalies = windows.refine_anomalies(
                points, anomalies, cfg.refine_algorithm_name,
                cfg.refine_algorithm_params,
            ).localCheckpoint(eager=True)
        meta = windows.summary_metadata(summary)
        return AnomalyResult(anomalies=anomalies, scores=scores, meta=meta)

    def monitor(
        self,
        df: DataFrame,
        ts_config: Optional[TimeSeriesConfig] = None,
        detector_config: Optional[DetectorConfig] = None,
        baseline: Optional[DataFrame] = None,
    ) -> AnomalyResult:
        """O2: the full pipeline — retrieval query then detection — for
        every series in ``df`` at once, computed when called (see
        ``detect``: ``anomalies`` and ``meta`` come from a local
        checkpoint released with the result, ``scores`` stays lazy).
        Retrieval skips ``read_series``' presentation order, which
        detection would discard. Empty input yields empty result frames
        (the reference returns None for an empty single series,
        client.py:134-135; vacuous in set-oriented form)."""
        points = retrieval.retrieve_series(
            self.check_source(df), ts_config or self.ts_config
        )
        return self.detect(points, detector_config, baseline=baseline)

    def register_tables(self, data_dir: str, names=None) -> dict:
        """Register each ``<data_dir>/<name>.parquet`` as a temp view so
        the whole surface is also reachable via ``spark.sql`` (the SQL
        front door the reference never had). Returns {name: DataFrame}.
        Default names are the driver-fixture tables (FIXTURES.md §2)."""
        names = names or [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]
        # events carries TIMESTAMP(NANOS) — read as raw int64 ns
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        out = {}
        for n in names:
            df = self.spark.read.parquet(f"{data_dir}/{n}.parquet")
            df.createOrReplaceTempView(n)
            out[n] = df
        return out
