"""Structured Streaming: each operator fed through readStream must
produce the same result as its batch form on the same data."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.sources import read_table
from python_etl_mailing_automation_spark.streaming import tumbling_event_counts


def test_stream_matches_batch(spark, sf_dir):
    """The batch tumbling-window definition, run on a watermarked
    readStream source, streams exactly the batch result."""
    events = read_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["min_value"], r["max_value"])
        for r in tumbling_event_counts(events).collect()
    }

    stage_dir = tempfile.mkdtemp(prefix="stream_in_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        events.write.mode("overwrite").parquet(stage_dir)
        stream_in = spark.readStream.schema(events.schema).parquet(stage_dir)
        assert stream_in.isStreaming
        agg = tumbling_event_counts(stream_in.withWatermark("ts", "2 hours"))
        q = (
            agg.writeStream.format("memory")
            .queryName("tumbling_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                (r["window_start"], r["event_type"]): (
                    r["n_events"], r["min_value"], r["max_value"]
                )
                for r in spark.sql("select * from tumbling_test").collect()
            }
        finally:
            q.stop()
        assert streamed == batch
        assert len(streamed) > 0
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_stream_attribution_matches_batch(spark, sf_dir):
    """The watermarked stream-stream attribution join emits exactly the
    batch twin's pairs when both sides arrive via readStream."""
    import shutil
    import tempfile

    from python_etl_mailing_automation_spark.streaming.joins import (
        attribution_join,
    )

    events = read_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    batch = {
        (r["user_id"], r["view_id"], r["click_id"])
        for r in attribution_join(views, clicks, horizon_s=7200).collect()
    }
    assert batch  # non-degenerate fixture

    v_dir = tempfile.mkdtemp(prefix="attr_v_")
    c_dir = tempfile.mkdtemp(prefix="attr_c_")
    ckpt = tempfile.mkdtemp(prefix="attr_ckpt_")
    try:
        views.write.mode("overwrite").parquet(v_dir)
        clicks.write.mode("overwrite").parquet(c_dir)
        sv = spark.readStream.schema(views.schema).parquet(v_dir)
        sc = spark.readStream.schema(clicks.schema).parquet(c_dir)
        joined = attribution_join(
            sv, sc, horizon_s=7200, watermark="2 hours"
        )
        q = (
            joined.writeStream.format("memory")
            .queryName("attr_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                (r["user_id"], r["view_id"], r["click_id"])
                for r in spark.sql("select * from attr_test").collect()
            }
        finally:
            q.stop()
        assert streamed == batch
    finally:
        shutil.rmtree(v_dir, ignore_errors=True)
        shutil.rmtree(c_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_sliding_stream_matches_batch(spark, sf_dir):
    """Sliding (hopping) windows: streaming with watermark produces the
    batch twin's rows — each event lands in duration/slide windows."""
    from python_etl_mailing_automation_spark.streaming.events import (
        sliding_event_counts,
    )

    events = read_table(spark, sf_dir, "events")
    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["min_value"], r["max_value"])
        for r in sliding_event_counts(events).collect()
    }
    assert batch

    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix="slide_in_")
    ckpt = tempfile.mkdtemp(prefix="slide_ckpt_")
    try:
        events.write.mode("overwrite").parquet(stage)
        stream_in = spark.readStream.schema(events.schema).parquet(stage)
        agg = (
            stream_in.withWatermark("ts", "2 hours")
            .groupBy(
                F.window(F.col("ts"), "1 hour", "30 minutes").alias("w"),
                F.col("event_type"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .select(
                F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n_events",
                "min_value",
                "max_value",
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("sliding_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                (r["window_start"], r["event_type"]): (
                    r["n_events"], r["min_value"], r["max_value"]
                )
                for r in spark.sql("select * from sliding_test").collect()
            }
        finally:
            q.stop()
        assert streamed == batch
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_drop_duplicates_within_watermark(spark):
    """Spark 3.5+ dropDuplicatesWithinWatermark: duplicates arriving
    within the watermark horizon are suppressed even when their event
    times differ (plain dropDuplicates would keep both); state is
    bounded by the watermark instead of growing forever."""
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix="ddww_src_")
    ckpt = tempfile.mkdtemp(prefix="ddww_ckpt_")
    try:
        rows = [
            (1, "k1", "2024-01-01 10:00:00"),
            (2, "k1", "2024-01-01 10:05:00"),  # same key, later ts -> dup
            (3, "k2", "2024-01-01 10:01:00"),
            (4, "k2", "2024-01-01 10:02:00"),  # dup
            (5, "k3", "2024-01-01 10:03:00"),
        ]
        df = spark.createDataFrame(rows, ["event_id", "k", "ts_s"]).select(
            "event_id", "k", F.to_timestamp("ts_s").alias("ts")
        )
        df.write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
        q = (
            dedup.writeStream.format("memory")
            .queryName("ddww_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            kept = {
                r["k"] for r in spark.sql("select * from ddww_test").collect()
            }
            n = spark.sql("select count(*) n from ddww_test").collect()[0]["n"]
        finally:
            q.stop()
        assert kept == {"k1", "k2", "k3"} and n == 3
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_loghist_matches_batch(spark, sf_dir):
    """The mergeable quantile sketch as a live stream metric: the batch
    per-window log histogram, run on a watermarked readStream source,
    streams exactly the batch result (counts are associative, so
    state-store merge order is invisible)."""
    from python_etl_mailing_automation_spark.streaming.events import windowed_loghist

    events = read_table(spark, sf_dir, "events")
    batch = {
        (r.window_start, r.bucket): r.cnt
        for r in windowed_loghist(events).collect()
    }

    stage_dir = tempfile.mkdtemp(prefix="lh_in_")
    ckpt = tempfile.mkdtemp(prefix="lh_ckpt_")
    try:
        events.write.mode("overwrite").parquet(stage_dir)
        stream_in = spark.readStream.schema(events.schema).parquet(stage_dir)
        agg = windowed_loghist(stream_in.withWatermark("ts", "2 hours"))
        q = (
            agg.writeStream.format("memory")
            .queryName("loghist_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                (r.window_start, r.bucket): r.cnt
                for r in spark.sql("select * from loghist_test").collect()
            }
        finally:
            q.stop()
        assert streamed == batch and len(streamed) > 0
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_contract_gate_stream_matches_batch(spark, sf_dir):
    """The row-local contract gate is a pure projection, so the same
    call under readStream tags exactly the rows the batch form tags;
    quarantine (size > 0) splits identically."""
    from pyspark.sql import functions as F

    from python_etl_mailing_automation_spark.datapipe.quality import (
        contract_gate,
    )

    events = read_table(spark, sf_dir, "events")
    constraints = [
        ("not_null", "user_id"),
        ("range", "value", 0.0, 50.0),
        ("accepted", "event_type", ["click", "view", "purchase"]),
    ]
    batch = {
        r.event_id: tuple(r.violated)
        for r in contract_gate(events, constraints)
        .select("event_id", "violated")
        .collect()
    }

    stage_dir = tempfile.mkdtemp(prefix="gate_in_")
    ckpt = tempfile.mkdtemp(prefix="gate_ckpt_")
    try:
        events.write.mode("overwrite").parquet(stage_dir)
        stream_in = spark.readStream.schema(events.schema).parquet(stage_dir)
        gated = contract_gate(stream_in, constraints).select(
            "event_id", "violated"
        )
        q = (
            gated.writeStream.format("memory")
            .queryName("gate_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
            streamed = {
                r.event_id: tuple(r.violated)
                for r in spark.sql("select * from gate_test").collect()
            }
        finally:
            q.stop()
        assert streamed == batch and len(streamed) > 0
        assert any(v for v in streamed.values())  # some rows violate
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_contract_gate_rejects_stateful_kinds(spark):
    """unique/fk need cross-row state and must be refused by the
    row-local gate."""
    import pytest as _pytest

    from python_etl_mailing_automation_spark.datapipe.quality import (
        contract_gate,
    )

    df = spark.createDataFrame([(1,)], "k int")
    with _pytest.raises(ValueError):
        contract_gate(df, [("unique", "k")])
    with _pytest.raises(ValueError):
        contract_gate(df, [])


def test_streaming_distinct_count_matches_batch_final(spark):
    """Streaming twin of operators.aggregates.running_distinct's FINAL
    state: dropDuplicates on (key, value) feeding an update-mode count
    per key converges to the batch distinct count — the
    vocabulary-growth monitor as a live stream."""
    import tempfile
    import time
    from datetime import datetime

    from pyspark.sql import functions as SF

    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0), "view"),
        ("u1", datetime(2024, 1, 1, 0, 1), "cart"),
        ("u1", datetime(2024, 1, 1, 0, 2), "view"),   # dup type
        ("u2", datetime(2024, 1, 1, 0, 0), "view"),
        ("u2", datetime(2024, 1, 1, 0, 3), "buy"),
        ("u2", datetime(2024, 1, 1, 0, 4), "cart"),
    ]
    df = spark.createDataFrame(rows, "u string, ts timestamp, et string")
    stage = tempfile.mkdtemp(prefix="rdist_in_")
    ckpt = tempfile.mkdtemp(prefix="rdist_ck_")
    try:
        df.write.mode("overwrite").parquet(stage)
        stream = spark.readStream.schema(df.schema).parquet(stage)
        counts = (
            stream.dropDuplicates(["u", "et"])
            .groupBy("u")
            .agg(SF.count(SF.lit(1)).alias("n_distinct"))
        )
        q = (
            counts.writeStream.format("memory").queryName("rdist")
            .outputMode("complete").option("checkpointLocation", ckpt).start()
        )
        try:
            deadline = time.time() + 90
            got: dict = {}
            while time.time() < deadline and got != {"u1": 2, "u2": 3}:
                got = {
                    r["u"]: r["n_distinct"]
                    for r in spark.sql("select * from rdist").collect()
                }
                time.sleep(2)
        finally:
            q.stop()
        batch = {
            r["u"]: r["n"]
            for r in df.select("u", "et").distinct()
            .groupBy("u").agg(SF.count(SF.lit(1)).alias("n")).collect()
        }
        assert got == batch == {"u1": 2, "u2": 3}
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_heavy_hitters_mg_closed_form_and_guarantee(spark):
    """Batch MG summary equals the closed-form one-shot merge
    (exact count minus the (capacity+1)-th largest count, positive
    residuals only), caps the counter table at ``capacity``, and
    honors the classic guarantee: any item with true count
    > n/(capacity+1) survives, each reported count within
    [true - n/(cap+1), true]. Multi-key: each key's summary is
    independent."""
    from collections import Counter

    from python_etl_mailing_automation_spark.datapipe.sketches import (
        heavy_hitters_mg,
    )

    per_key = {
        "k1": ["a"] * 30 + ["b"] * 20 + ["c"] * 5
        + [f"x{i}" for i in range(25)],
        # all-ties key: 6 items x 4 each, capacity 4 -> ck1 = 4,
        # every residual 0, empty summary (bound still holds: no
        # item exceeds 24/5).
        "k2": [f"t{i}" for i in range(6)] * 4,
    }
    rows = [(k, it) for k, items in per_key.items() for it in items]
    # NULL keys drop by contract (same as the streaming twin) and must
    # not perturb any real key's summary
    rows += [(None, "a")] * 7
    df = spark.createDataFrame(rows, "key string, item string")
    cap = 4
    got: dict[str, dict[str, tuple[int, int]]] = {}
    for r in heavy_hitters_mg(df, "key", "item", capacity=cap).collect():
        got.setdefault(r["key"], {})[r["item"]] = (
            r["mg_count"], r["n_events"],
        )
    for k, items in per_key.items():
        true = Counter(items)
        n = len(items)
        ck1 = sorted(true.values(), reverse=True)[cap] if (
            len(true) > cap
        ) else 0
        expected = {
            it: (c - ck1, n) for it, c in true.items() if c - ck1 > 0
        }
        assert got.get(k, {}) == expected, k
        assert len(got.get(k, {})) <= cap
        bound = n / (cap + 1)
        for it, c in true.items():
            if c > bound:
                assert it in got[k], f"guaranteed heavy hitter {it} missing"
        for it, (mg, _) in got.get(k, {}).items():
            assert true[it] - bound <= mg <= true[it]
    assert "k2" not in got  # the all-ties key collapses to empty
    assert None not in got  # NULL keys dropped, not silently lost mid-plan


def test_heavy_hitters_mg_plan_has_no_python_eval(spark):
    """The round-10 rework's contract: the batch operator is pure
    DataFrame ops — no FlatMapGroupsInPandas / Batch/ArrowEvalPython
    stage — and the top-(capacity+1) rank filter is rewritten as a
    WindowGroupLimit so each map task keeps only capacity+1 rows per
    key before the exchange."""
    from python_etl_mailing_automation_spark.datapipe.sketches import (
        heavy_hitters_mg,
    )

    df = spark.createDataFrame(
        [("k", f"i{n % 7}") for n in range(50)], "key string, item string"
    )
    plan = heavy_hitters_mg(df, "key", "item", capacity=3)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    for bad in ("FlatMapGroupsInPandas", "BatchEvalPython",
                "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad
    assert "WindowGroupLimit" in plan
