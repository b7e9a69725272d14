"""D10: score series → anomaly windows (gaps-and-islands), plus D9 refine.

The reference delegates this to Luminol's threshold/window extraction
(scores above an absolute ``score_threshold`` or a
``score_percent_threshold`` fraction of the series max become contiguous
anomaly windows, each carrying its peak point). Spark-first: one ordered
window spec per series numbers the islands (one sort, no Python), one
hash aggregation turns them into window rows.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F, Window as W

from .base import get_detector

ANOMALY_COLS = (
    "series_key",
    "start_ts_ms",
    "end_ts_ms",
    "exact_ts_ms",
    "anomaly_score",
)


def _islands(
    scores: DataFrame,
    score_threshold: Optional[float],
    score_percent_threshold: Optional[float],
) -> DataFrame:
    """``scores`` plus ``__island``: a per-series island id on every
    above-threshold row, null elsewhere. An island is a maximal run of
    above-threshold rows in (ts_ms, score) order — score is the
    tiebreak so duplicate timestamps order identically on every run;
    rows equal in (ts_ms, score) are equally above or not, so their
    relative order never changes an island.

    One sort per series: the frame-wide max (percent threshold) and
    ``lag(score)`` share one Window operator, and the running count of
    island starts reuses its ordering.
    """
    w = W.partitionBy("series_key").orderBy("ts_ms", "score")
    staged = [F.lag("score").over(w).alias("__prev")]
    if score_threshold is not None:
        def above(s):
            return s >= float(score_threshold)
    elif score_percent_threshold is not None:
        frame = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        staged.append(
            (F.max("score").over(frame) * float(score_percent_threshold))
            .alias("__thr")
        )

        def above(s):
            return (s >= F.col("__thr")) & (s > 0)
    else:
        def above(s):
            return s > 0

    # a null score is never above, so it ends any run it sits in
    flagged = scores.select("*", *staged).withColumn(
        "__above", F.coalesce(above(F.col("score")), F.lit(False))
    )
    start = flagged.withColumn(
        "__start",
        (
            F.col("__above")
            & ~F.coalesce(above(F.col("__prev")), F.lit(False))
        ).cast("int"),
    )
    run = F.sum("__start").over(w.rowsBetween(W.unboundedPreceding, 0))
    return start.withColumn(
        "__island", F.when(F.col("__above"), run)
    ).drop("__prev", "__thr", "__above", "__start")


def window_summary(
    scores: DataFrame,
    score_threshold: Optional[float] = None,
    score_percent_threshold: Optional[float] = None,
) -> DataFrame:
    """Every scored point folded into metadata-scale rows, grouped by
    (series_key, island-or-null): one row per anomaly window plus, per
    series with any point outside a window, one row whose ``__island``
    is null. Each row carries its point count ``__n``, ts extent, peak
    (the earliest point of maximal score) and max score, so windows
    (``summary_windows``) and per-series metadata
    (``summary_metadata``) both come from this frame without another
    pass over the points."""
    islands = _islands(scores, score_threshold, score_percent_threshold)
    return islands.groupBy("series_key", "__island").agg(
        F.count("*").alias("__n"),
        F.min("ts_ms").alias("start_ts_ms"),
        F.max("ts_ms").alias("end_ts_ms"),
        F.max_by("ts_ms", F.struct(F.col("score"), -F.col("ts_ms"))).alias(
            "exact_ts_ms"
        ),
        F.max("score").alias("anomaly_score"),
    )


def summary_windows(summary: DataFrame) -> DataFrame:
    """The anomaly-window rows of a ``window_summary``."""
    return summary.filter(F.col("__island").isNotNull()).select(*ANOMALY_COLS)


def summary_metadata(summary: DataFrame) -> DataFrame:
    """A17 per-series metadata re-aggregated from a ``window_summary``:
    equal to ``retrieval.series_metadata(scores, extract_anomalies(scores,
    ...))`` for the same thresholds, since a detector returns one score
    row per point — from metadata-scale input and without a join."""
    meta = summary.groupBy("series_key").agg(
        F.sum("__n").alias("data_points_analyzed"),
        F.count("__island").alias("anomalies_found"),
        F.min("start_ts_ms").alias("start_ts_ms"),
        F.max("end_ts_ms").alias("end_ts_ms"),
    )
    return meta.withColumn(
        "duration_ms", F.col("end_ts_ms") - F.col("start_ts_ms")
    )


def extract_anomalies(
    scores: DataFrame,
    score_threshold: Optional[float] = None,
    score_percent_threshold: Optional[float] = None,
) -> DataFrame:
    """Contiguous runs of above-threshold scores → one row per window:
    (series_key, start_ts_ms, end_ts_ms, exact_ts_ms, anomaly_score)
    where exact is the peak point (ties → earliest peak, deterministic).

    Absolute threshold wins when both are given (reference config.py:84-85);
    with neither, any strictly-positive score is anomalous. The island
    filter is on a grouping key, so Spark applies it before the
    aggregation and the unused point count is pruned.
    """
    return summary_windows(
        window_summary(scores, score_threshold, score_percent_threshold)
    )


def refine_anomalies(
    points: DataFrame,
    anomalies: DataFrame,
    refine_algorithm_name: str,
    refine_algorithm_params: Optional[dict] = None,
) -> DataFrame:
    """D9: re-score the points inside each anomaly window with a second
    algorithm; the window keeps its extent but its peak
    (exact_ts_ms/anomaly_score) is recomputed from the refined scores.

    The anomaly set is tiny relative to the points, so the window
    assignment is a broadcast range join — no extra shuffle of the
    points beyond the refine algorithm's own per-series pass.
    """
    refine = get_detector(refine_algorithm_name)
    win = anomalies.select(
        "series_key",
        F.col("start_ts_ms").alias("__w_start"),
        F.col("end_ts_ms").alias("__w_end"),
    )
    in_windows = points.join(F.broadcast(win), "series_key").filter(
        F.col("ts_ms").between(F.col("__w_start"), F.col("__w_end"))
    )
    # refine runs per (series, WINDOW), not per series: rolling/global-
    # stat refiners (hampel, mad, derivative) must never mix points from
    # separate anomaly windows or bridge the time gaps between them.
    # The window start is folded into the grouping key for the refine
    # pass and split back out afterwards (\x1f never occurs in keys).
    sep = "\x1f"
    tagged = in_windows.select(
        F.concat_ws(
            sep, F.col("series_key"), F.col("__w_start").cast("string")
        ).alias("series_key"),
        "ts_ms",
        "value",
    )
    rescored = refine(tagged, **(refine_algorithm_params or {}))
    split = rescored.select(
        F.substring_index("series_key", sep, 1).alias("series_key"),
        F.substring_index("series_key", sep, -1).cast("bigint").alias("__w_start"),
        "ts_ms",
        "score",
    )
    peaks = split.groupBy("series_key", "__w_start").agg(
        F.max_by("ts_ms", F.struct(F.col("score"), -F.col("ts_ms"))).alias(
            "exact_ts_ms"
        ),
        F.max("score").alias("anomaly_score"),
    )
    return peaks.join(F.broadcast(win), ["series_key", "__w_start"]).select(
        "series_key",
        F.col("__w_start").alias("start_ts_ms"),
        F.col("__w_end").alias("end_ts_ms"),
        "exact_ts_ms",
        "anomaly_score",
    )


def merge_incidents(windows: DataFrame, bridge_ms: int = 0) -> DataFrame:
    """Fold per-series anomaly windows into GLOBAL incidents: windows
    that overlap in time (or sit within ``bridge_ms`` of each other)
    merge into one incident regardless of series — the on-call view
    ("one outage hit 14 series for 20 minutes"), where per-series
    window extraction answers the per-metric question.

    Classic sweep as window functions: order all windows by start; a
    new incident begins exactly where a window's start exceeds the
    running maximum end (+ bridge) of everything before it; the
    incident id is the running count of such breaks. Deterministic
    total order via (start, end, series_key).

    Scale note: the sweep runs over ONE global sort — deliberately.
    The input is the ALERT stream (one row per extracted window, not
    per point), orders of magnitude smaller than the data; if alert
    volume ever challenges a single sort, the thresholds upstream are
    wrong long before the plan is. This is the same judgment as a
    TakeOrdered top-k: global, but over an intrinsically small relation.

    Output: (incident_start_ms, incident_end_ms, n_windows, n_series,
    peak_score).
    """
    w = W.orderBy("start_ts_ms", "end_ts_ms", "series_key")
    prev_max_end = F.max("end_ts_ms").over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    is_break = F.when(
        prev_max_end.isNull()
        | (F.col("start_ts_ms") > prev_max_end + int(bridge_ms)),
        1,
    ).otherwise(0)
    staged = windows.withColumn("__brk", is_break).withColumn(
        "__incident", F.sum("__brk").over(w)
    )
    return (
        staged.groupBy("__incident")
        .agg(
            F.min("start_ts_ms").alias("incident_start_ms"),
            F.max("end_ts_ms").alias("incident_end_ms"),
            F.count("*").alias("n_windows"),
            F.countDistinct("series_key").alias("n_series"),
            F.max("anomaly_score").alias("peak_score"),
        )
        .drop("__incident")
    )
