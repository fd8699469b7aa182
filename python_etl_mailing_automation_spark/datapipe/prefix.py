"""Distributed global prefix (cumulative) sums without a single-partition
window.

``Window.orderBy(...)`` with no ``partitionBy`` moves EVERY row through one
task's sort (Spark warns ``WindowExec: No Partition Defined``) — fine on a
bounded aggregate frame, fatal on anything data-sized. The standard fix is
the two-level scan:

1. assign each row an order-contiguous **range bucket** (all rows ≤ a
   boundary value land in the same bucket, equal keys never straddle one);
2. aggregate per-bucket totals (one row per bucket — a bounded frame), take
   the running prefix over THAT, and broadcast each bucket's "sum of all
   earlier buckets" offset back;
3. run the expensive within-bucket cumulative window partitioned BY bucket,
   and add the offset: bucket prefix + within-bucket prefix == global
   prefix, exactly.

Bucket boundaries are **content-derived and deterministic** — a fixed-size
md5-rank sample of the key column (never ``repartitionByRange``, whose
reservoir sampling depends on partition iteration order and can re-draw
different boundaries when a plan is evaluated twice, silently corrupting
the offsets). Boundary quality affects only balance, never correctness.

Used by :func:`~.text.vocab_growth` and the ungrouped branch of
:func:`~.timeseries.max_concurrency`; the same discipline (bucket totals +
broadcast offsets) appears in :func:`~.sampling.budget_select`, which gets
its buckets for free from the quality column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def range_boundaries(
    source: DataFrame,
    key_col: str | Column,
    n_buckets: int | None = None,
    *,
    oversample: int = 32,
) -> list:
    """Deterministic range-bucket boundary values for ``key_col``.

    Samples the ``n_buckets * oversample`` rows with the smallest
    ``md5(key)`` — a content-addressed uniform draw that is a pure
    function of the data (same input ⇒ same sample, on any cluster, on
    any re-evaluation), computed as a distributed top-k
    (TakeOrderedAndProject), never a global sort — then picks
    ``n_buckets - 1`` evenly spaced key values from the sample's key
    order. Returns a sorted, de-duplicated Python list (possibly shorter
    than requested when the key has few distinct values; empty for an
    empty input — both degrade to fewer/one bucket, never to an error).

    Driver traffic is the fixed sample size (bounded by construction:
    buckets × oversample rows of one column). ``source`` can be any frame
    that carries the key's distribution — for an aggregate-derived frame
    whose recomputation is expensive, pass the cheap RAW column scan
    instead (boundaries only steer balance, so a row-weighted rather than
    group-weighted draw is fine).
    """
    if n_buckets is None:
        try:
            n_buckets = int(
                source.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (ValueError, TypeError):
            n_buckets = source.sparkSession.sparkContext.defaultParallelism
    if n_buckets <= 1:
        return []
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    rows = (
        source.select(key.alias("__k"))
        .filter(F.col("__k").isNotNull())
        .withColumn("__h", F.md5(F.col("__k").cast("string")))
        .orderBy("__h", "__k")
        .limit(n_buckets * oversample)
        .select("__k")
        .collect()
    )
    keys = sorted(r["__k"] for r in rows)
    if not keys:
        return []
    bounds: list = []
    for i in range(1, n_buckets):
        v = keys[min(len(keys) - 1, (i * len(keys)) // n_buckets)]
        if not bounds or v > bounds[-1]:
            bounds.append(v)
    return bounds


def bucket_of(key: Column, boundaries: list) -> Column:
    """Order-contiguous bucket id for ``key``: the number of boundary
    values strictly below it (0 .. len(boundaries)). Equal keys always
    share a bucket; NULL keys land in bucket 0 (NULLS FIRST). A linear
    scan over the literal boundary array — boundaries are
    parallelism-sized (tens to low thousands), so this stays a cheap
    codegen'd expression, no join.
    """
    if not boundaries:
        return F.lit(0)
    b = None
    for v in boundaries:
        term = F.when(key > F.lit(v), 1).otherwise(0)
        b = term if b is None else b + term
    return b


def global_running_sums(
    df: DataFrame,
    order_cols: list[str],
    sums: dict[str, str],
    *,
    boundary_source: DataFrame | None = None,
    boundaries: list | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Add exact global running-sum columns to ``df`` without ever
    sorting it in one task.

    ``sums`` maps each output column to the (long-castable) input column
    it accumulates; every output is the inclusive cumulative sum under
    the total ``order_cols`` order (rows that tie on ALL order columns
    receive an arbitrary-but-complete relative order, as with any ROWS
    window over ties). Buckets come from :func:`range_boundaries` on the
    FIRST order column — sampled from ``boundary_source`` when given
    (pass the raw table's column when ``df`` itself is an expensive
    aggregate), else from ``df``. A caller running SEVERAL prefix scans
    whose key shares one distribution (e.g. quantile matching's source
    and target sides) can sample once via :func:`range_boundaries` and
    pass the list through ``boundaries``, skipping the per-call sample
    job entirely — boundary quality only steers balance, never
    correctness.

    Cost note: ``df`` appears in two branches of the produced plan
    (bucket totals, final join), but those are ONE job — Spark's
    exchange reuse computes the shared aggregate subtree once, so do
    NOT localCheckpoint-detach an input merely for this function
    (measured round-10: detaching vocab_growth's aggregate ran ~1.8×
    slower at sf0.1 — the store pass costs more than it saves and
    breaks reuse). The only off-plan evaluation is the boundary-sample
    job: when ``df`` is expensive, point ``boundary_source`` at a cheap
    raw column with the same key distribution, or pass ``boundaries``
    computed once. Detaching (``detach(..., eager=True)``) pays off only
    when the frame feeds multiple SEPARATE jobs, as in the suffix
    module's doubling rounds.

    Scale shape: one bounded boundary sample, one per-bucket aggregate
    (bucket-cardinality frame), offsets computed by ARRAY algebra over
    the packed bucket totals (collect_list into one row → posexplode +
    prefix-slice aggregate — O(buckets²) scalar adds inside one
    expression, never an unpartitioned window, so the plan carries zero
    ``WindowExec: No Partition Defined`` sites), one broadcast join of
    the offsets, and ONE partitioned window keyed by bucket — the
    biggest sort any task performs is one bucket's rows, and the bucket
    count is the parallelism knob.
    """
    key = F.col(order_cols[0])
    bounds = (
        boundaries
        if boundaries is not None
        else range_boundaries(
            boundary_source if boundary_source is not None else df,
            order_cols[0],
            n_buckets,
        )
    )
    bucketed = df.withColumn("__pfx_b", bucket_of(key, bounds))
    totals = bucketed.groupBy("__pfx_b").agg(
        *[
            F.sum(F.col(src).cast("long")).alias(f"__pfx_t_{out}")
            for out, src in sums.items()
        ]
    )
    # Pack the bounded totals frame (one row per bucket) into a single
    # sorted array row, then read each bucket's "sum of earlier buckets"
    # offset with a slice-and-fold — a prefix sum with no window at all.
    packed = totals.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("__pfx_b"),
                    *[F.col(f"__pfx_t_{out}") for out in sums],
                )
            )
        ).alias("__pfx_arr")
    )
    def _fold(field: str):
        # Bind the struct field name per output column; PySpark inspects
        # the lambda's arity, so the closure must take exactly (acc, x).
        return lambda acc, x: acc + x[field]

    offsets = packed.select(
        "__pfx_arr",
        F.posexplode("__pfx_arr").alias("__pfx_i", "__pfx_e"),
    ).select(
        F.col("__pfx_e.__pfx_b").alias("__pfx_b"),
        *[
            F.aggregate(
                F.slice(F.col("__pfx_arr"), F.lit(1), F.col("__pfx_i")),
                F.lit(0).cast("long"),
                _fold(f"__pfx_t_{out}"),
            ).alias(f"__pfx_o_{out}")
            for out in sums
        ],
    )
    ww = Window.partitionBy("__pfx_b").orderBy(
        *[F.col(c).asc_nulls_first() for c in order_cols]
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = bucketed.join(F.broadcast(offsets), "__pfx_b").select(
        "*",
        *[
            (F.sum(F.col(src).cast("long")).over(ww) + F.col(f"__pfx_o_{o}"))
            .cast("long")
            .alias(o)
            for o, src in sums.items()
        ],
    )
    return out.drop("__pfx_b", *[f"__pfx_o_{o}" for o in sums])


def global_next_value(
    df: DataFrame,
    order_col: str,
    out_col: str,
    *,
    boundary_source: DataFrame | None = None,
) -> DataFrame:
    """Add ``lead(order_col)`` under the GLOBAL order of a
    distinct-keyed frame — without a single-partition sort.

    ``df`` must be distinct on ``order_col`` (the per-distinct-value
    aggregate frames this module serves). Same two-level discipline as
    :func:`global_running_sums`: range-bucket the key, take the lead
    within each bucket's partitioned window, and stitch bucket
    boundaries by handing each bucket the MIN key of the nearest
    higher non-empty bucket — computed on the bounded per-bucket min
    frame via the packed-array idiom (sort_array + posexplode +
    element_at, no window at all). The global maximum key gets NULL,
    exactly as lead() would give.

    Scale shape: one bounded boundary sample, one per-bucket min
    aggregate (bucket-cardinality frame), one broadcast join, and ONE
    window partitioned by bucket — the biggest sort any task performs
    is one bucket's rows.
    """
    key = F.col(order_col)
    bounds = range_boundaries(
        boundary_source if boundary_source is not None else df, order_col
    )
    bucketed = df.withColumn("__nx_b", bucket_of(key, bounds))
    mins = bucketed.groupBy("__nx_b").agg(F.min(key).alias("__nx_m"))
    packed = mins.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("__nx_b"), F.col("__nx_m")))
        ).alias("__nx_arr")
    )
    nxt = packed.select(
        "__nx_arr",
        F.posexplode("__nx_arr").alias("__nx_i", "__nx_e"),
    ).select(
        F.col("__nx_e.__nx_b").alias("__nx_b"),
        F.element_at(F.col("__nx_arr"), F.col("__nx_i") + 2)["__nx_m"].alias(
            "__nx_next"
        ),
    )
    ww = Window.partitionBy("__nx_b").orderBy(key.asc())
    out = bucketed.join(F.broadcast(nxt), "__nx_b").withColumn(
        out_col,
        F.coalesce(F.lead(order_col, 1).over(ww), F.col("__nx_next")),
    )
    return out.drop("__nx_b", "__nx_next")
