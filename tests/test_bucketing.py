"""Scan pruning: hive-style partition filters prune directories at
planning time, and dynamic partition pruning prunes a fact scan through
a join at runtime."""

from __future__ import annotations


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """Hive-style partition columns prune at planning time: the scan's
    PartitionFilters carry the predicate and only the matching
    directory is read — the other 100 TB of partitions never open."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "parted")
    (
        spark.range(0, 1000)
        .withColumn("part", (F.col("id") % 10).cast("int"))
        .write.partitionBy("part")
        .parquet(out)
    )
    scan = spark.read.parquet(out).filter(F.col("part") == 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "part" in plan
    # only the one directory's rows flow
    assert scan.count() == 100
    # predicate on a DATA column reaches the reader as PushedFilters
    scan2 = spark.read.parquet(out).filter(F.col("id") < 5)
    plan2 = scan2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), LessThan(id,5)]" in plan2


def test_dynamic_partition_pruning_through_join(spark, tmp_path):
    """DPP: a filter on the DIM side prunes the fact scan's partitions
    at RUNTIME through the join — the plan's PartitionFilters carry a
    dynamicpruning subquery, so a 100 TB fact table opens only the
    partitions the filtered dim actually joins."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "fact")
    (
        spark.range(0, 1000)
        .withColumn("part", (F.col("id") % 10).cast("int"))
        .write.partitionBy("part")
        .parquet(out)
    )
    fact = spark.read.parquet(out)
    dim = spark.range(0, 10).select(
        F.col("id").cast("int").alias("part"),
        (F.col("id") % 3).alias("grp"),
    )
    joined = fact.join(dim.filter(F.col("grp") == 0), on="part")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    # grp==0 keeps dim parts {0,3,6,9} -> 4 of 10 partitions x 100 rows
    assert joined.count() == 400
