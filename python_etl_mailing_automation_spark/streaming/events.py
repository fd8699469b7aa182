"""Tumbling- and sliding-window event aggregation (batch).

Each definition is a plain keyed window aggregate, so adding a watermark
under ``readStream`` runs it unchanged as a stream with bounded state
(per-window partials sized by watermark horizon × key cardinality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _agg(windowed: DataFrame) -> DataFrame:
    return windowed.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def tumbling_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Batch form: counts + min/max value per (tumbling window, key)."""
    grouped = events.groupBy(
        F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col)
    )
    return _agg(grouped).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col(key_col),
        "n_events",
        "min_value",
        "max_value",
    )


def sliding_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
) -> DataFrame:
    """Batch form of sliding (hopping) windows: each event contributes to
    ``duration/slide`` overlapping windows. Same definition runs under
    ``readStream`` by adding a watermark (as in the tumbling variant)."""
    grouped = events.groupBy(
        F.window(F.col(ts_col), window_duration, slide_duration).alias("w"),
        F.col(key_col),
    )
    return _agg(grouped).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.col(key_col),
        "n_events",
        "min_value",
        "max_value",
    )


def windowed_loghist(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_expr: str = "CAST(floor(value) AS BIGINT)",
    window_duration: str = "1 hour",
) -> DataFrame:
    """Batch form: the :mod:`..datapipe.sketches` log-histogram sketch
    per tumbling window — ``(window_start, bucket, cnt)``. The sketch
    is a pure keyed COUNT over (window, bit-length bucket), so the
    identical definition runs under ``readStream`` with a watermark:
    per-window sketch state is ≤ 64 rows however many events arrive,
    the property that makes a quantile profile affordable as a live
    stream metric. Negative and
    NULL values are dropped (the sketch's domain contract). The default
    value_expr floors explicitly: a bare double->BIGINT cast TRUNCATES
    on Spark but ROUNDS on DuckDB."""
    v = F.expr(value_expr)
    bucket = F.when(v == 0, F.lit(0)).otherwise(
        F.length(F.bin(v)).cast("int")
    )
    return (
        events.filter(v.isNotNull() & (v >= 0))
        .groupBy(
            F.window(F.col(ts_col), window_duration).alias("w"),
            bucket.alias("bucket"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "bucket",
            "cnt",
        )
    )

