"""SparkSession factory with scale-oriented defaults.

The reference engine is a single pandas process (SURVEY.md §4); here the
execution engine is Spark, so the session is where the 100 TB posture is
set: AQE on (runtime partition coalescing + skew-join handling), Arrow for
any pandas interchange, and a shuffle-partition count that callers override
per deployment (32 for local tests, thousands on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "python-etl-mailing-automation-spark"


def build_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession tuned for this engine.

    Parameters mirror deployment knobs only; query semantics never depend
    on them. ``master=None`` defers to spark-submit / an existing session
    (cluster deploys); tests pass ``local[N]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = os.environ.get("SPARK_MASTER")
    if master:
        builder = builder.master(master)
        if master.startswith("local"):
            # In local mode the driver JVM IS the executor; Spark's 1g
            # default OOMs well before the machine does. Sizing is a
            # deployment knob (cluster deploys set executor memory via
            # spark-submit); only applied when WE create the local JVM.
            builder = builder.config(
                "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
            )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    conf = {
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # broadcast-join demotion — essential at 100 TB where static plans
        # mis-size shuffles.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for the few pandas/Python boundaries (multimodal UDFs).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.session.timeZone": "UTC",
        # Respect the non-ANSI coerce-to-null semantics the reference's
        # `errors='coerce'` parsing relies on (SURVEY.md §1.2).
        "spark.sql.ansi.enabled": "false",
        # Parquet TIMESTAMP(NANOS) (written by arrow-based producers) is
        # unreadable by Spark natively; surface it as a long and convert
        # with nanos_to_timestamp() (sources.read_table does this).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        # Spark keeps 100 generated classes by default, fewer than one
        # mailing job generates: a session running the job again evicted
        # and recompiled most of them (LRU) on every run.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # Else every DataFrame/Column call captures its Python call site: a
        # stack walk and py4j round trips, ~45% of a mailing run's.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

