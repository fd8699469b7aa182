"""Tests: as-of join, sessionization (batch + streaming), export layout,
email sink."""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.operators.asof import asof_join
from python_etl_mailing_automation_spark.pipeline.export import apply_export_layout
from python_etl_mailing_automation_spark.sources.email_sink import (
    OutboxFileTransport,
    render_emails,
)
from python_etl_mailing_automation_spark.streaming.sessions import (
    session_stats,
    sessionize,
    sessionize_stream,
)


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
    stats = {
        (r["user_id"], r["session_seq"]): r["n_events"]
        for r in session_stats(events, gap_seconds=1800).collect()
    }
    assert stats == {(1, 1): 3, (1, 2): 1, (2, 1): 1}


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


def test_sessionize_stream_closes_sessions(spark):
    events = spark.createDataFrame(
        [(1, 1, _ts("2024-01-01T00:00:00")),
         (2, 1, _ts("2024-01-01T00:10:00")),
         (3, 1, _ts("2024-01-01T02:00:00")),
         (4, 1, _ts("2024-01-01T09:00:00"))],  # advances watermark far ahead
        "event_id long, user_id long, ts timestamp",
    )
    stage = tempfile.mkdtemp(prefix="sess_in_")
    ckpt = tempfile.mkdtemp(prefix="sess_ck_")
    try:
        events.write.mode("overwrite").parquet(stage)
        stream = spark.readStream.schema(events.schema).parquet(stage)
        q = (
            sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
            .writeStream.format("memory").queryName("sess_test")
            .outputMode("append").option("checkpointLocation", ckpt).start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("select * from sess_test").collect()
        finally:
            q.stop()
        closed = {(r["session_start"], r["n_events"]) for r in rows}
        # First session (events 1,2) closes once the watermark passes.
        assert (_ts("2024-01-01T00:00:00"), 2) in closed
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


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


def test_email_sink_render_and_outbox(spark, tmp_path):
    df = spark.createDataFrame(
        [("a@x.test", "Ana", 100.5), (None, "Bia", 1.0), ("c@x.test", None, 2.0)],
        "email string, nome string, divida double",
    )
    msgs = render_emails(
        df,
        to_col="email",
        subject_template="Débito de {nome}",
        body_template="Olá {nome}, total {divida}.",
    )
    rows = {r["to"]: r for r in msgs.collect()}
    assert set(rows) == {"a@x.test", "c@x.test"}  # null recipient dropped
    assert rows["a@x.test"]["subject"] == "Débito de Ana"
    assert rows["c@x.test"]["body"] == "Olá , total 2.0."  # null field -> ''

    transport = OutboxFileTransport(tmp_path / "outbox")
    path = transport.deliver(msgs)
    delivered = [
        json.loads(line)
        for p in (tmp_path / "outbox" / "outbox.jsonl").glob("part-*.json")
        for line in p.read_text().splitlines()
    ]
    assert len(delivered) == 2 and path.endswith("outbox.jsonl")
    emls = transport.deliver_eml(msgs)
    assert len(emls) == 2 and emls[0].read_text().startswith("From: ")

    with pytest.raises(KeyError):
        render_emails(df, to_col="email", subject_template="{missing}", body_template="")


def test_email_sink_eml_distributed(spark, tmp_path):
    """deliver_eml must write from executors (foreachPartition), with 2+
    partitions producing disjoint per-partition file names and every
    message landing exactly once."""
    df = spark.createDataFrame(
        [(f"u{i}@x.test", f"User{i}", float(i)) for i in range(20)],
        "email string, nome string, divida double",
    ).repartition(4)
    msgs = render_emails(
        df,
        to_col="email",
        subject_template="Débito de {nome}",
        body_template="Olá {nome}, total {divida}.",
    )
    transport = OutboxFileTransport(tmp_path / "outbox_dist")
    emls = transport.deliver_eml(msgs)
    assert len(emls) == 20
    assert len({p.name for p in emls}) == 20  # collision-free names
    pids = {p.name.split("_")[1] for p in emls}
    assert len(pids) >= 2  # genuinely written by multiple partitions
    recipients = sorted(
        next(ln for ln in p.read_text().splitlines() if ln.startswith("To: "))[4:]
        for p in emls
    )
    assert recipients == sorted(f"u{i}@x.test" for i in range(20))


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
