"""Time-series retrieval operators (SURVEY.md §2.1-2.3), Spark-first.

The reference pushes its whole retrieval config server-side into
RedisTimeSeries (``TS.RANGE``, /root/reference/potoos/client.py:56-59).
Here the same surface is expressed as declarative DataFrame
transformations so Catalyst does the pushdown: time/value filters reach
the Parquet scan as ``PushedFilters``, bucket aggregation runs as
partial→final hash aggregation (map-side combine before the shuffle),
and the per-series sample cap compiles to a ranked window.

Canonical frame: ``(series_key string, ts_ms bigint, value double [, seq bigint])``
— one DataFrame carries *many* series; one reference ``monitor(key)`` call
corresponds to one ``series_key`` group. ``seq`` is an optional ingestion
tiebreaker used by the ``latest`` dedup (A15).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F, Window as W

from ..config import TimeSeriesConfig

SERIES_COLS = ("series_key", "ts_ms", "value")

# Raw storage-timestamp passthrough: when ts_ms is *derived* (e.g.
# ``ts DIV 1000000`` over nano storage), parquet can only push plain
# column references — a filter on the derived column loses row-group
# skipping. series_frame keeps the raw column as __raw_ts with its
# units-per-ms factor in column metadata; apply_filters translates time
# bounds back into raw units so the pushdown reaches the scan.
RAW_TS_COL = "__raw_ts"
RAW_TS_SCALE_KEY = "units_per_ms"


def series_frame(
    df: DataFrame,
    series_key: str | Column,
    ts: str | Column,
    value: str | Column,
    seq: str | Column | None = None,
    raw_ts: str | None = None,
    raw_units_per_ms: int = 1,
) -> DataFrame:
    """Normalize any source DataFrame into the canonical series frame.

    ``ts`` may be a TimestampType column (converted to epoch ms) or an
    integral column already in ms. Pass ``raw_ts`` (a *storage column
    name*) + ``raw_units_per_ms`` when ``ts`` is derived from a finer
    unit, so time filters keep hitting the parquet scan (see RAW_TS_COL).
    """
    key_col = F.col(series_key) if isinstance(series_key, str) else series_key
    ts_col = F.col(ts) if isinstance(ts, str) else ts
    val_col = F.col(value) if isinstance(value, str) else value
    ts_field = df.select(ts_col.alias("__ts")).schema[0].dataType.typeName()
    if ts_field == "timestamp_ntz":
        # unix_millis only accepts TIMESTAMP; under the UTC session this
        # engine pins, the cast is an exact wall-clock reinterpretation.
        ts_ms = F.unix_millis(ts_col.cast("timestamp"))
    elif ts_field == "timestamp":
        ts_ms = F.unix_millis(ts_col)
    else:
        ts_ms = ts_col.cast("bigint")
    cols = [
        key_col.cast("string").alias("series_key"),
        ts_ms.alias("ts_ms"),
        val_col.cast("double").alias("value"),
    ]
    if seq is not None:
        seq_col = F.col(seq) if isinstance(seq, str) else seq
        cols.append(seq_col.cast("bigint").alias("seq"))
    if raw_ts is not None:
        cols.append(
            F.col(raw_ts).alias(
                RAW_TS_COL, metadata={RAW_TS_SCALE_KEY: int(raw_units_per_ms)}
            )
        )
    return df.select(*cols)


def events_ts_parts(ev: DataFrame) -> tuple[Column, int]:
    """(ms expression, raw units-per-ms) for the events ``ts`` column,
    whichever way this Spark build reads TIMESTAMP(NANOS) parquet:

    * legacy ``nanosAsLong`` honored → int64 nanos → ``ts DIV 1e6``;
    * modern reader → TIMESTAMP_NTZ (micros, truncated from nanos) →
      ``unix_millis`` after the exact UTC cast.

    Both floor toward ms exactly like DuckDB's ``epoch_ms(ts)``, so the
    oracles are unaffected by which reader is active."""
    t = ev.schema["ts"].dataType.typeName()
    if t in ("timestamp", "timestamp_ntz"):
        return F.col("ts"), 1
    return F.expr("ts DIV 1000000"), 1_000_000


def events_ts_ms(ev: DataFrame) -> Column:
    """The events ``ts`` column as epoch-ms bigint, whichever reader
    shape is active (see ``events_ts_parts``)."""
    t = ev.schema["ts"].dataType.typeName()
    if t == "timestamp_ntz":
        return F.unix_millis(F.col("ts").cast("timestamp"))
    if t == "timestamp":
        return F.unix_millis(F.col("ts"))
    return F.expr("ts DIV 1000000")


def events_series(spark, sf_dir: str) -> DataFrame:
    """The driver ``events`` table reshaped to the canonical frame
    (series_key = event_type, per FIXTURES.md §2): many series, one scan.

    The table stores TIMESTAMP(NANOS); see ``events_ts_parts`` for the
    two reader shapes handled.

    SESSION-WIDE SIDE EFFECT (deliberate, documented): the two confs
    below outlive this call. ``nanosAsLong`` must be set before the
    first nanos-parquet footer is read (a no-op on builds that ignore
    it — ``events_ts_parts`` handles both shapes), and timestamp→ms
    arithmetic assumes UTC at EXECUTION time, so restoring the timezone
    after this (lazy) read would silently shift every derived ts_ms.
    Sessions from ``potoos_spark.session.get_session`` already carry
    both settings; this is a belt-and-braces for foreign sessions."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_expr, units = events_ts_parts(ev)
    return series_frame(
        ev,
        "event_type",
        ts_expr,
        "value",
        seq="event_id",
        raw_ts="ts",
        raw_units_per_ms=units,
    )


def bucket_start(ts_ms: Column, bucket_ms: int, offset_ms: int = 0) -> Column:
    """Tumbling-bucket start label in ms: floor((ts - offset)/b)*b + offset.

    ``pmod`` keeps the math correct for pre-epoch timestamps; offset
    implements RTS ``ALIGN`` (A13).
    """
    shifted = ts_ms - F.lit(offset_ms)
    return (shifted - F.pmod(shifted, F.lit(bucket_ms)) + F.lit(offset_ms)).cast(
        "bigint"
    )


_AGG_EXPRS = {
    # A1-A12: the 12 RTS bucket aggregators (reference config.py:41).
    "avg": lambda: F.avg("value"),
    "sum": lambda: F.sum("value"),
    "min": lambda: F.min("value"),
    "max": lambda: F.max("value"),
    "range": lambda: F.max("value") - F.min("value"),
    "count": lambda: F.count("value").cast("double"),
    # first/last = value at earliest/latest ts — min_by/max_by, NOT first()
    # (which is partition-order-nondeterministic). Ties on ts broken by seq
    # when present so results are deterministic under parallel scan.
    "first": lambda: F.min_by("value", F.struct("ts_ms", "__tie")),
    "last": lambda: F.max_by("value", F.struct("ts_ms", "__tie")),
    "std.p": lambda: F.stddev_pop("value"),
    "std.s": lambda: F.stddev_samp("value"),
    "var.p": lambda: F.var_pop("value"),
    "var.s": lambda: F.var_samp("value"),
}


def apply_filters(df: DataFrame, cfg: TimeSeriesConfig) -> DataFrame:
    """F1 time range + F2 ts IN-list + F3 value range.

    All plain comparisons on scan columns → Catalyst pushes them into the
    Parquet reader (min/max row-group skipping), which is the Spark
    equivalent of the reference's server-side pushdown. When the frame
    carries a raw storage timestamp (RAW_TS_COL), the time bounds are
    ALSO applied in raw units — a derived ts_ms (e.g. ``ts DIV 1e6``)
    is not a plain column reference, so without the raw-unit twin the
    scan would read every row group.
    """
    lo, hi = cfg.lower_ms(), cfg.upper_ms()
    raw_scale = None
    raw_is_ts = False
    if RAW_TS_COL in df.columns:
        meta = df.schema[RAW_TS_COL].metadata
        raw_scale = int(meta.get(RAW_TS_SCALE_KEY, 1))
        raw_type = df.schema[RAW_TS_COL].dataType.typeName()
        raw_is_ts = raw_type in ("timestamp", "timestamp_ntz")
        if raw_is_ts:
            raw_cast = raw_type  # literal bounds cast to the column's type

    def _raw_bound_ms(ms: int) -> Column:
        return F.timestamp_millis(F.lit(ms)).cast(raw_cast)

    if lo is not None:
        df = df.filter(F.col("ts_ms") >= lo)
        if raw_is_ts:
            # ts_ms = floor(raw in ms) >= lo  ⇔  raw >= lo as an instant
            df = df.filter(F.col(RAW_TS_COL) >= _raw_bound_ms(lo))
        elif raw_scale:
            # ts_ms = raw DIV scale >= lo  ⇔  raw >= lo * scale
            df = df.filter(F.col(RAW_TS_COL) >= lo * raw_scale)
    if hi is not None:
        df = df.filter(F.col("ts_ms") <= hi)
        if raw_is_ts:
            # ts_ms <= hi  ⇔  raw < (hi+1) as an instant
            df = df.filter(F.col(RAW_TS_COL) < _raw_bound_ms(hi + 1))
        elif raw_scale:
            # ts_ms <= hi  ⇔  raw < (hi+1) * scale
            df = df.filter(F.col(RAW_TS_COL) <= (hi + 1) * raw_scale - 1)
    if cfg.filter_by_ts is not None:
        df = df.filter(F.col("ts_ms").isin(*[int(t) for t in cfg.filter_by_ts]))
    if cfg.filter_by_min_value is not None:
        df = df.filter(F.col("value") >= float(cfg.filter_by_min_value))
    if cfg.filter_by_max_value is not None:
        df = df.filter(F.col("value") <= float(cfg.filter_by_max_value))
    return df


def apply_latest(df: DataFrame, cfg: TimeSeriesConfig) -> DataFrame:
    """A15: keep only the latest ingested value per (series_key, ts_ms).

    Expressed as max_by over the ingestion sequence — a single hash
    aggregation (partial→final), cheaper at scale than a ranked window
    because it combines map-side.
    """
    if not cfg.latest:
        return df
    tie = "seq" if "seq" in df.columns else "value"
    return df.groupBy("series_key", "ts_ms").agg(
        F.max_by("value", F.col(tie)).alias("value")
    )


def apply_aggregation(df: DataFrame, cfg: TimeSeriesConfig) -> DataFrame:
    """A1-A14: tumbling-bucket aggregation with align + bucket labeling.

    Output: (series_key, ts_ms = bucket label, value). One shuffle on
    (series_key, bucket) with map-side partial aggregation.
    """
    if cfg.aggregation_type is None:
        return df
    b = int(cfg.bucket_size_msec)
    offset = cfg.align_offset_ms()
    tie = F.col("seq") if "seq" in df.columns else F.col("value")
    agg_expr = _AGG_EXPRS[cfg.aggregation_type]()
    if cfg.aggregation_type in ("std.s", "var.s"):
        # Spark yields NaN for a single-element sample stddev/variance;
        # SQL engines yield NULL — normalize to NULL.
        agg_expr = F.when(~F.isnan(agg_expr), agg_expr)
    bucket = bucket_start(F.col("ts_ms"), b, offset)
    out = (
        df.withColumn("__tie", tie)
        .groupBy("series_key", bucket.alias("bucket_ms"))
        .agg(agg_expr.cast("double").alias("value"))
    )
    # A14: which timestamp labels the bucket (RTS '-' start, '~' mid, '+' end)
    label = F.col("bucket_ms")
    if cfg.bucket_timestamp == "~":
        label = F.col("bucket_ms") + F.lit(b // 2)
    elif cfg.bucket_timestamp == "+":
        label = F.col("bucket_ms") + F.lit(b)
    return out.select(
        "series_key", label.cast("bigint").alias("ts_ms"), "value"
    )


def apply_count_limit(df: DataFrame, cfg: TimeSeriesConfig) -> DataFrame:
    """A16: per-series sample cap in scan direction (reversed → newest
    first). Ranked window per series_key; at scale each series ranks
    locally after the hash partition on series_key."""
    if cfg.count is None:
        return df
    # seq tie-break: duplicate timestamps must rank deterministically
    # (scan order is not reproducible across partitionings)
    tie = F.col("seq") if "seq" in df.columns else F.col("value")
    order = (
        [F.col("ts_ms").desc(), tie.desc()]
        if cfg.reversed
        else [F.col("ts_ms").asc(), tie.asc()]
    )
    w = W.partitionBy("series_key").orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(cfg.count))
        .drop("__rn")
    )


def apply_order(df: DataFrame, cfg: TimeSeriesConfig) -> DataFrame:
    """S2: presentation ordering (reference `reversed`, config.py:55)."""
    order = F.col("ts_ms").desc() if cfg.reversed else F.col("ts_ms").asc()
    return df.orderBy("series_key", order)


def retrieve_series(
    df: DataFrame, cfg: Optional[TimeSeriesConfig] = None
) -> DataFrame:
    """The retrieval query without its presentation order: filter →
    latest-dedup → bucket-agg → per-series cap. Detection repartitions
    by series_key anyway, so a global sort before it is wasted work."""
    cfg = cfg or TimeSeriesConfig()
    df = apply_filters(df, cfg)
    df = apply_latest(df, cfg)
    df = apply_aggregation(df, cfg)
    df = apply_count_limit(df, cfg)
    return df.select(*SERIES_COLS)


def read_series(df: DataFrame, cfg: Optional[TimeSeriesConfig] = None) -> DataFrame:
    """The full retrieval query (reference ``_get_time_series``,
    client.py:37-65): ``retrieve_series`` → order."""
    cfg = cfg or TimeSeriesConfig()
    return apply_order(retrieve_series(df, cfg), cfg)


def min_points_guard(df: DataFrame, min_points: int = 4) -> DataFrame:
    """F4: the reference raises on series shorter than 4 points
    (/root/reference/potoos/client.py:84-85). Set-oriented version:
    drop short series (a window count beats a groupBy+join — no second
    shuffle once partitioned by series_key)."""
    w = W.partitionBy("series_key")
    return (
        df.withColumn("__n", F.count("*").over(w))
        .filter(F.col("__n") >= min_points)
        .drop("__n")
    )


def series_metadata(points: DataFrame, anomalies: Optional[DataFrame] = None) -> DataFrame:
    """A17: per-series run metadata (reference client.py:97-108).

    Implements the *intent* of the reference's ``if max and min`` check
    (a builtins-truthiness bug, SURVEY.md §2.3): duration is null when
    either bound is null, not when builtins are truthy.
    """
    meta = points.groupBy("series_key").agg(
        F.count("*").alias("data_points_analyzed"),
        F.min("ts_ms").alias("start_ts_ms"),
        F.max("ts_ms").alias("end_ts_ms"),
    )
    meta = meta.withColumn(
        "duration_ms", F.col("end_ts_ms") - F.col("start_ts_ms")
    )
    if anomalies is not None:
        counts = anomalies.groupBy("series_key").agg(
            F.count("*").alias("anomalies_found")
        )
        meta = meta.join(counts, "series_key", "left").withColumn(
            "anomalies_found", F.coalesce(F.col("anomalies_found"), F.lit(0))
        )
    else:
        meta = meta.withColumn("anomalies_found", F.lit(0).cast("bigint"))
    return meta.select(
        "series_key",
        "data_points_analyzed",
        "anomalies_found",
        "start_ts_ms",
        "end_ts_ms",
        "duration_ms",
    )
