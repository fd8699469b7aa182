"""Tests: as-of join, sessionization, export layout."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.operators.aggregates import sessionize
from python_etl_mailing_automation_spark.operators.asof import asof_join
from python_etl_mailing_automation_spark.pipeline.export import apply_export_layout


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    events = spark.createDataFrame(
        [(1, 10, _ts("2024-01-05T00:00:00")),
         (2, 10, _ts("2024-01-01T00:00:00")),   # equal to order time -> matches (<=)
         (3, 10, _ts("2023-12-31T00:00:00")),   # before any order -> null
         (4, 20, _ts("2024-06-01T00:00:00"))],  # user with no orders -> null
        "event_id long, user_id long, ts timestamp",
    )
    orders = spark.createDataFrame(
        [(100, 10, _ts("2024-01-01T00:00:00")),
         (101, 10, _ts("2024-01-01T00:00:00")),   # same-time tie -> largest key
         (102, 10, _ts("2024-01-04T00:00:00"))],
        "o_orderkey long, o_custkey long, o_orderdate timestamp",
    )
    out = {
        r["event_id"]: r["asof_o_orderkey"]
        for r in asof_join(
            events, orders,
            left_key="user_id", right_key="o_custkey",
            left_time="ts", right_time="o_orderdate",
            value_cols=["o_orderkey"], tiebreak_col="o_orderkey",
        ).collect()
    }
    assert out == {1: 102, 2: 101, 3: None, 4: None}


def test_sessionize_gap_boundaries(spark):
    events = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00")),
         (2, 1, _ts("2024-01-01T00:29:59")),   # within gap
         (3, 1, _ts("2024-01-01T00:59:59")),   # exactly 30:00 after #2 -> same session
         (4, 1, _ts("2024-01-01T01:30:00")),   # 30:01 after #3 -> new session
         (5, 2, _ts("2024-01-01T00:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(events, gap_seconds=1800).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1}


def test_sessionize_timestamp_ntz(spark):
    """Parquet reads back TIMESTAMP_NTZ under Spark's default NTZ
    inference (that is what the correctness driver feeds the engine) —
    sessionize must accept both timestamp flavors and agree."""
    events = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00")),
         (2, 1, _ts("2024-01-01T00:29:59")),
         (3, 1, _ts("2024-01-01T01:00:00")),
         (4, 2, _ts("2024-01-01T05:00:00"))],
        "event_id long, user_id long, ts timestamp",
    )
    ntz = events.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
    want = {
        (r["event_id"], r["session_seq"])
        for r in sessionize(events, gap_seconds=1800).collect()
    }
    got = {
        (r["event_id"], r["session_seq"])
        for r in sessionize(ntz, gap_seconds=1800).collect()
    }
    assert got == want


def test_interval_join_timestamp_ntz(spark):
    """interval_join's epoch binning must tolerate TIMESTAMP_NTZ inputs
    (mixed flavors across sides included)."""
    from python_etl_mailing_automation_spark.operators.asof import interval_join

    left = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:30:00")), (2, _ts("2024-01-01T05:00:00"))],
        "row_id long, ts timestamp",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [(10, _ts("2024-01-01T00:00:00"), _ts("2024-01-01T01:00:00"))],
        "iv_id long, start_ts timestamp, end_ts timestamp",
    )
    got = {
        (r["row_id"], r["iv_id"])
        for r in interval_join(left, right, granularity_s=3600).collect()
    }
    assert got == {(1, 10)}


def test_apply_export_layout(spark):
    df = spark.createDataFrame(
        [("111", 1234.5, _ts("2024-03-05T00:00:00"), "x")],
        "cpf string, valorDivida double, dtvenc timestamp, extra string",
    )
    out = apply_export_layout(df, ["cpf", "valorDivida", "dtvenc", "ausente"])
    row = out.first()
    assert out.columns == ["cpf", "valorDivida", "dtvenc"]  # absent skipped
    assert row["valorDivida"] == "1234,50"
    assert row["dtvenc"] == "05/03/2024"
    robot = apply_export_layout(
        df, ["valorDivida"], robot_money=True
    ).first()
    assert robot["valorDivida"] == "1234,50"
    robot2 = apply_export_layout(
        df.withColumn("valorDivida", F.lit(150.0)), ["valorDivida"], robot_money=True
    ).first()
    assert robot2["valorDivida"] == "150"


def test_cache_once_skips_already_cached_plan(spark):
    """cache_once caches an uncached frame, and a REBUILT frame with
    the same canonical plan takes the no-op branch (the CacheManager
    lookup is plan-based, not object-based) — the rerun path that used
    to spam 'Asked to cache already cached data'."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from python_etl_mailing_automation_spark.detach import cache_once

    fresh = spark.range(100).select((F.col("id") * 17).alias("x"))
    c1 = cache_once(fresh)
    assert c1.storageLevel != StorageLevel.NONE
    c1.count()
    try:
        rebuilt = spark.range(100).select((F.col("id") * 17).alias("x"))
        assert rebuilt.storageLevel != StorageLevel.NONE  # plan-level hit
        c2 = cache_once(rebuilt)
        assert c2 is rebuilt  # no-op branch: not re-registered
        assert c2.count() == 100
    finally:
        c1.unpersist()
