#!/usr/bin/env python
"""One-off phase profiler for density_clusters (round-10 optimization).

Times each phase of the composition separately with the noop sink so the
expensive stage is identified before touching anything (guide §1).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from python_etl_mailing_automation_spark.session import build_spark
from python_etl_mailing_automation_spark.detach import cache_once
from python_etl_mailing_automation_spark.datapipe.spatial import (
    proximity_join_grid,
)
from python_etl_mailing_automation_spark.datapipe.dedup import (
    dedup_clusters_star,
)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = build_spark(
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    # mirror q_density_clusters' inputs exactly
    import __spark_entry__ as entry

    q = entry.queries()["density_clusters"]
    cust = entry._t(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        entry._synthetic_point(F.col("c_custkey"), "x", 20000).alias("x"),
        entry._synthetic_point(F.col("c_custkey"), "y", 20000).alias("y"),
    )

    t0 = time.time()
    pts2 = pts.filter(
        F.col("id").isNotNull() & F.col("x").isNotNull() & F.col("y").isNotNull()
    )
    pairs = proximity_join_grid(pts2, pts2, id_col="id", x_col="x", y_col="y", radius=800)
    spark.sparkContext.setJobDescription("phase: pairs noop")
    noop(pairs)
    t1 = time.time()
    print(f"pairs noop: {t1-t0:.2f}s  rows={pairs.count()}", flush=True)

    t1 = time.time()
    # later phases read the cached pairs until the session stops
    pairs_c = cache_once(pairs)
    pairs_c.count()
    t2 = time.time()
    print(f"pairs cache+count: {t2-t1:.2f}s", flush=True)

    deg = pairs_c.groupBy("id_a").agg(F.count(F.lit(1)).cast("long").alias("__deg"))
    core = deg.filter(F.col("__deg") >= 10).select(F.col("id_a").alias("id"))
    spark.sparkContext.setJobDescription("phase: core noop")
    noop(core)
    t3 = time.time()
    print(f"deg+core noop: {t3-t2:.2f}s  cores={core.count()}", flush=True)

    t3 = time.time()
    core_edges = (
        pairs_c.filter(F.col("id_a") < F.col("id_b"))
        .join(core.select(F.col("id").alias("id_a")), "id_a", "left_semi")
        .join(core.select(F.col("id").alias("id_b")), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    spark.sparkContext.setJobDescription("phase: core_edges noop")
    noop(core_edges)
    t4 = time.time()
    print(f"core_edges noop: {t4-t3:.2f}s  rows={core_edges.count()}", flush=True)

    t4 = time.time()
    labeled = dedup_clusters_star(
        core.select(F.col("id").alias("doc_id")),
        core_edges.select(
            F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b")
        ),
        max_iterations=40,
    )
    spark.sparkContext.setJobDescription("phase: closure noop")
    noop(labeled)
    t5 = time.time()
    print(f"closure noop: {t5-t4:.2f}s", flush=True)

    # full query for reference
    spark.sparkContext.setJobDescription("phase: full query")
    t5 = time.time()
    noop(q(spark, sf_dir))
    t6 = time.time()
    print(f"full query noop: {t6-t5:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
