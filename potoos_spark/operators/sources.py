"""Source/sink surface (SURVEY.md §2.1) beyond the parquet test path.

The reference's only source is RedisTimeSeries (S1/S2); its sink is an
in-memory dataclass (S4). Spark-side, a source is anything that yields
the canonical series frame and a sink is any DataFrame writer — these
helpers pin the conversions so every format lands in the same frame:

* batch: parquet / csv / json / orc readers → ``series_frame``
* binary media: ``read_binary_dir`` (Spark ``binaryFile`` source) →
  the multimodal tier's (doc_id, payload, meta) shape
* streaming: file-directory stream (schema-required)
* sink: parquet append (batch), and the streaming sinks live with the
  streaming tier (memory / foreachBatch, streaming/monitor.py)

Kafka's reader is API-compatible with the file stream
(``readStream.format("kafka")`` + JSON/Avro decode into series_frame);
it is not exercised here because the test environment has no broker.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .retrieval import series_frame


def read_batch(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    series_key: str = "series_key",
    ts: str = "ts_ms",
    value: str = "value",
    seq: Optional[str] = None,
    schema: Optional[str] = None,
    **options,
) -> DataFrame:
    """Read any batch format into the canonical series frame. CSV/JSON
    should pass an explicit ``schema`` (inference costs an extra scan
    and is banned at 100 TB)."""
    reader = spark.read.format(fmt).options(**options)
    if fmt == "csv":
        reader = reader.option("header", options.get("header", "true"))
    if schema is not None:
        reader = reader.schema(schema)
    elif fmt == "csv":
        reader = reader.option("inferSchema", "true")
    return series_frame(reader.load(path), series_key, ts, value, seq=seq)


def read_stream(
    spark: SparkSession,
    path: str,
    schema: str,
    fmt: str = "parquet",
    series_key: str = "series_key",
    ts: str = "ts_ms",
    value: str = "value",
    seq: Optional[str] = None,
    **options,
) -> DataFrame:
    """File-directory stream → canonical series frame (streaming sources
    always need an explicit schema)."""
    sdf = spark.readStream.format(fmt).schema(schema).options(**options).load(path)
    return series_frame(sdf, series_key, ts, value, seq=seq)


def decode_json_payloads(
    sdf: DataFrame,
    payload_col: str = "value",
    payload_schema: str = "series_key string, ts_ms bigint, value double, seq bigint",
    series_key: str = "series_key",
    ts: str = "ts_ms",
    value: str = "value",
    seq: Optional[str] = "seq",
) -> DataFrame:
    """Decode a message-bus-shaped stream — rows carrying an opaque
    binary/string payload column (the wire shape of
    ``readStream.format("kafka")``'s ``value``) — into the canonical
    series frame via ``from_json``. Works identically on a file/socket
    stream for broker-less testing; point it at a Kafka reader in
    production."""
    decoded = sdf.select(
        F.from_json(F.col(payload_col).cast("string"), payload_schema).alias("j")
    ).select("j.*")
    return series_frame(decoded, series_key, ts, value, seq=seq)


def write_batch(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "append") -> None:
    """S4 batch sink."""
    df.write.format(fmt).mode(mode).save(path)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str = "*",
    id_from_name: bool = True,
    assert_unique_ids: bool = False,
) -> DataFrame:
    """Ingest a directory of OPAQUE binary payloads (images / audio /
    video files) into the multimodal tier's canonical shape via Spark's
    built-in ``binaryFile`` source — the production entry point the
    text-stand-in fixtures emulate: (doc_id, payload binary,
    meta struct<byte_len, checksum, mime>), directly consumable by
    ``multimodal.decode_features`` / ``dhash_features`` /
    ``byte_histogram``.

    ``doc_id`` derives from the FILENAME's first digit run when
    ``id_from_name`` (the layout a media dump ships: ``0001234.jpg``).
    ASSUMPTION (ADVICE r8): that mapping is only injective for a
    single flat directory whose names embed one unique counter —
    ``a/img_1.jpg`` vs ``b/img_1.jpg``, or ``a.1.jpg`` vs ``b.1.jpg``,
    collide. For nested dumps either pass ``id_from_name=False``
    (63-bit masked xxhash64 of the FULL path — collision odds ~n²/2⁶⁴,
    negligible below billions of files) or set
    ``assert_unique_ids=True`` to fail loudly on the first duplicate
    (adds one lazy duplicate-id aggregation over a THIN doc_id-only
    projection, broadcast-left-joined back — the payload side never
    shuffles: a window over the full row would ship every binary
    payload through the exchange, a real cost on large media dumps).

    The hash id is ``xxhash64 & Long.MAX_VALUE`` — a real non-negative
    63-bit mask; ``abs()`` was wrong (abs(Long.MIN_VALUE) stays
    negative, or throws under ANSI).

    Scale shape: ``binaryFile`` is a plain file-scan source — predicate
    pushdown applies to the path/length metadata columns and the scan
    parallelizes per file; payloads never pass through the driver."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    hash_id = F.xxhash64(F.col("path")).bitwiseAND(F.lit((1 << 63) - 1))
    name = F.element_at(F.split(F.col("path"), "/"), -1)
    digit_run = F.regexp_extract(name, r"(\d+)", 1)
    doc_id = (
        F.when(digit_run != "", digit_run.cast("bigint")).otherwise(hash_id)
        if id_from_name
        else hash_id
    )
    out = df.select(
        doc_id.cast("bigint").alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.col("length").cast("bigint").alias("byte_len"),
            F.md5(F.col("content")).alias("checksum"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("meta"),
    )
    if assert_unique_ids:
        # duplicate check on a THIN doc_id-only projection (empty in
        # the pass case), broadcast back so payloads never shuffle
        dup_ids = (
            out.select("doc_id")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .select("doc_id", F.lit(1).cast("bigint").alias("__dup"))
        )
        guard = F.coalesce(
            F.assert_true(
                F.col("__dup").isNull(),
                F.lit("read_binary_dir: duplicate doc_id from filename digit runs"),
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        )
        out = (
            out.join(F.broadcast(dup_ids), "doc_id", "left")
            .select((F.col("doc_id") + guard).alias("doc_id"), "payload", "meta")
        )
    return out


def zip_ingest(
    df: DataFrame,
    series_key: str = "series_key",
    ts_array: str = "timestamps",
    value_array: str = "values",
) -> DataFrame:
    """S5: ingest array-shaped payloads — one row per series carrying
    parallel (timestamps[], values[]) arrays, the exact reply shape of
    the reference's Redis scan (zipped row-by-row in driver Python at
    /root/reference/potoos/client.py:62-63). Spark-side this is
    ``arrays_zip`` + ``explode``: columnar, executor-local, no driver
    materialization."""
    zipped = F.explode(F.arrays_zip(F.col(ts_array), F.col(value_array))).alias("p")
    return df.select(F.col(series_key).cast("string").alias("series_key"), zipped).select(
        "series_key",
        F.col(f"p.{ts_array}").cast("bigint").alias("ts_ms"),
        F.col(f"p.{value_array}").cast("double").alias("value"),
    )
