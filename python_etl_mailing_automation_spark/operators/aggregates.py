"""Aggregation operators (SURVEY.md §2.4).

Scale notes: windowed aggregates shuffle once on the partition key;
group-count+having benefits from map-side partial aggregation (Catalyst
does this automatically for `groupBy().count()`); money sums use
DecimalType so results are exact and independent of partition/merge order —
on a 1000-executor cluster float sums are nondeterministic run-to-run,
decimals are not.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_group_sum(
    df: DataFrame,
    key: str,
    value: str,
    out: str,
    *,
    as_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """A1: attach SUM(value) per key to every row without collapsing.

    Reference: ``groupby(ncpf)['valor'].transform('sum')``
    (processing_pipeline.py:115-117). One shuffle on ``key``; the decimal
    accumulator makes the total exact and aggregation-order-free, then the
    result is surfaced as double for downstream arithmetic.
    """
    w = Window.partitionBy(key)
    return df.withColumn(out, F.sum(F.col(value).cast(as_decimal)).over(w).cast("double"))


def with_distinct_list(
    df: DataFrame,
    key: str,
    value: str,
    out_list: str,
    out_count: str,
    *,
    sep: str = ", ",
) -> DataFrame:
    """A2: per-key comma-joined distinct values + distinct count, attached
    to every row (processing_pipeline.py:119-123).

    The pandas original keeps first-seen order of uniques; Spark provides
    no cross-operator row order, so the engine makes the order explicit and
    deterministic: sorted. (SURVEY.md §7.3 risk 2 — string equality of the
    joined list needs a defined order; counts are order-free either way.)
    """
    w = Window.partitionBy(key)
    distinct = F.collect_set(F.col(value)).over(w)
    return df.withColumn(out_list, F.array_join(F.array_sort(distinct), sep)).withColumn(
        out_count, F.size(distinct)
    )


def group_count_having(
    df: DataFrame,
    key: str,
    predicate: Column,
    min_count: int,
    *,
    count_col: str = "n_critical",
) -> DataFrame:
    """A3+A4: count predicate-matching rows per key, keep keys at/over the
    threshold (processing_pipeline.py:83-85; threshold config.ini:144).

    Returns one row per qualifying key: ``(key, count_col)``. The filter
    runs *before* the groupBy so the shuffle only carries matching rows.
    """
    return (
        df.filter(predicate)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= min_count)
    )


def completeness_count(cols: list[Column | str]) -> Column:
    """A8: row-wise non-null count across ``cols`` ("completeness"),
    the reference's dedup tiebreaker (final_sanitizer.py:46).
    """
    terms = [
        F.when((F.col(c) if isinstance(c, str) else c).isNotNull(), 1).otherwise(0)
        for c in cols
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total


def debounce_events(
    df: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_s: int = 60,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Debounce: within each key, keep an event only if it is the first
    of its burst — i.e. more than ``gap_s`` seconds after the previous
    kept-or-dropped event of the same key (plain previous-row gap, the
    standard sensor/click debounce; the first event per key always
    survives).

    One ``lag`` window per key ordering by time — a single shuffle on
    the key, the same partitioning shape as :func:`sessionize`'s
    lag + cumulative-sum sessionization.
    """
    from ..functions.dates import epoch_micros

    us = epoch_micros(ts_col, dtype=dict(df.dtypes)[ts_col])
    order = [us.asc()]
    if tiebreak_col is not None:
        # deterministic burst-first choice under equal timestamps
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(us).over(w)
    keep = prev.isNull() | (us - prev > int(gap_s) * 1_000_000)
    return df.withColumn("__keep", keep).filter(F.col("__keep")).drop("__keep")


def rolling_window_sum(
    df: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    window_s: int = 86400,
) -> DataFrame:
    """Per-row trailing-window aggregate: for every event, the count and
    exact sum of the key's values in the ``window_s`` seconds ending at
    (and including) the event — the "7-day rolling spend" shape. A
    RANGE window frame over exact epoch microseconds: one shuffle on the key, and
    Spark evaluates the sliding frame with two pointers over each key's
    sorted run, O(n) per key, never O(n·window).

    ``value_col``'s dtype flows through the sum: pre-scale money to
    integer cents (or decimal) for partition-order-independent exact
    totals — the engine's cross-row float-sum rule; the rolling count
    is exact long.
    Ties in ``ts`` share a frame (RANGE, not ROWS): every simultaneous
    event sees the same trailing total, deterministically.
    """
    from ..functions.dates import epoch_micros

    epoch = epoch_micros(ts_col, dtype=dict(df.dtypes)[ts_col])
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(epoch)
        .rangeBetween(-int(window_s) * 1_000_000, 0)
    )
    return df.withColumn(
        "rolling_n", F.count(F.lit(1)).over(w).cast("long")
    ).withColumn("rolling_sum", F.sum(F.col(value_col)).over(w))


def rolling_window_sum_binned(
    df: DataFrame,
    *,
    key_cols: list[str],
    id_col: str,
    ts_col: str = "ts",
    value_col: str = "value",
    window_s: int = 86400,
) -> DataFrame:
    """Skew-parallel twin of :func:`rolling_window_sum` — identical
    result (same trailing-``window_s`` count/sum semantics, RANGE ties
    included), different plan: the serial per-key two-pointer scan is
    decomposed so a HOT key's work spreads over its time bins.

    Decomposition (bin width = the window length W, so a trailing
    window spans at most 2 bins):

        rolling(e) = same-bin prefix  (events in bin(e) with ts <= e)
                   + prev-bin suffix  (events in bin(e)-1 with
                                       ts >= e - W)

    Both terms are windows partitioned by (key, bin) — the hot key's
    serial run shrinks from ALL its events to one bin's worth. The
    suffix needs "prev-bin running sum at an arbitrary point e - W",
    which is the classic probe-row trick: each event contributes a
    zero-valued PROBE row at (bin - 1, e - W); one ROWS running sum
    over the union (probes ordered before data at equal ts, so the
    probe reads the strictly-earlier prefix) gives the cut point, and
    suffix = per-bin total - cut. Exact tie semantics match the RANGE
    frame: events at exactly e - W stay inside the window on both
    paths.

    Cost: ~3 shuffles (union window on (key, bin); per-id recombine;
    join back on ``id_col``) vs the plain operator's 1 — use THIS
    variant when a key can hold an unbounded share of rows (the skew
    tier's hot-user shape), the plain one otherwise. ``id_col`` must
    uniquely identify rows. Sum stays exact for integer/decimal
    ``value_col`` (two exact partial sums). ``value_col`` must be
    NON-NULL: the plain RANGE sum returns NULL for an all-NULL frame,
    and the two-term recombination cannot distinguish that from an
    empty suffix (0) — filter or coalesce NULLs first.
    """
    from ..functions.dates import epoch_micros

    w_us = int(window_s) * 1_000_000
    epoch = epoch_micros(ts_col, dtype=dict(df.dtypes)[ts_col])
    # floor-division bin (pmod keeps pre-1970 epochs on the same grid;
    # SQL `div` alone truncates toward zero)
    base = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(k) for k in key_cols],
        epoch.alias("__e"),
        F.col(value_col).alias("__v"),
    ).withColumn("__bin", F.expr(f"(__e - pmod(__e, {w_us})) div {w_us}"))
    vtype = dict(base.dtypes)["__v"]
    data = base.select(
        "__id", *key_cols, "__bin", "__e", F.lit(1).alias("__is_data"), "__v"
    )
    probes = base.select(
        "__id",
        *key_cols,
        (F.col("__bin") - 1).alias("__bin"),
        (F.col("__e") - F.lit(w_us)).alias("__e"),
        F.lit(0).alias("__is_data"),
        F.lit(None).cast(vtype).alias("__v"),
    )
    u = data.unionByName(probes)
    w_rows = (
        Window.partitionBy(*key_cols, "__bin")
        .orderBy("__e", "__is_data")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_range = (
        Window.partitionBy(*key_cols, "__bin")
        .orderBy("__e")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = u.select(
        "__id",
        *key_cols,
        "__bin",
        "__is_data",
        # probe cut: data rows strictly before e - W in the prev bin
        # (equal-ts data sorts after the probe and stays in the suffix)
        F.sum("__v").over(w_rows).alias("__cut_s"),
        F.sum("__is_data").over(w_rows).alias("__cut_n"),
        # data prefix: RANGE, so tied events share a frame exactly as
        # the plain operator's frame does (probes contribute nothing:
        # NULL value, 0 to the data count)
        F.sum("__v").over(w_range).alias("__pre_s"),
        F.sum("__is_data").over(w_range).alias("__pre_n"),
    )
    totals = data.groupBy(*key_cols, "__bin").agg(
        F.sum("__v").alias("__tot_s"), F.count(F.lit(1)).alias("__tot_n")
    )
    contrib = (
        u.join(totals, on=[*key_cols, "__bin"], how="left")
        .select(
            "__id",
            F.when(
                F.col("__is_data") == 1, F.col("__pre_s")
            ).otherwise(
                F.coalesce(F.col("__tot_s"), F.lit(0).cast(vtype))
                - F.coalesce(F.col("__cut_s"), F.lit(0).cast(vtype))
            ).alias("__c_s"),
            F.when(F.col("__is_data") == 1, F.col("__pre_n"))
            .otherwise(
                F.coalesce(F.col("__tot_n"), F.lit(0))
                - F.coalesce(F.col("__cut_n"), F.lit(0))
            )
            .alias("__c_n"),
        )
        .groupBy("__id")
        .agg(
            F.sum("__c_s").alias("rolling_sum"),
            F.sum("__c_n").cast("long").alias("rolling_n"),
        )
    )
    return df.join(
        contrib.withColumnRenamed("__id", id_col), on=id_col
    )


def merge_agg_states(
    states: list[DataFrame],
    keys: list[str],
    *,
    sum_cols: list[str],
    count_col: str | None = None,
) -> DataFrame:
    """Incremental materialized-view maintenance for ADDITIVE
    aggregates: partial states (same schema: keys + decimal/integer
    sum columns + optional count) from different batches/partitions
    merge by union + re-sum into the state the full input would have
    produced — no re-scan of history when a new batch lands, which is
    the entire economics of incremental aggregation at 100 TB (the
    aggregate sibling of ``datapipe.dedup.incremental_dedup``'s
    fingerprint ledger).

    Exactness: additive merge is only re-run-identical when sums are
    order-independent — keep money/metric sums in DECIMAL (the
    engine's decimal-sum rule); float sums would make the merged state
    depend on batch arrival order.

    One shuffle on the keys; output is one row per key.
    """
    if not states:
        raise ValueError("merge_agg_states: states must be non-empty")
    if not sum_cols and count_col is None:
        raise ValueError("merge_agg_states: nothing to merge")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    if count_col is not None:
        aggs.append(F.sum(count_col).alias(count_col))
    return merged.groupBy(*keys).agg(*aggs)


def apply_agg_delta(
    base: DataFrame,
    changelog: DataFrame,
    keys: list[str],
    *,
    sum_cols: list[str],
    count_col: str = "n_rows",
    op_col: str = "op",
    insert_op: str = "I",
    delete_op: str = "D",
) -> DataFrame:
    """Retraction-aware incremental aggregate maintenance: fold a
    changelog of row-level inserts AND deletes into an existing
    grouped-aggregate state without rescanning history — the
    materialized-view DELTA rule (insert ⇒ +1/+value, delete ⇒
    −1/−value per group), the retraction half that
    :func:`merge_agg_states` (append-only) doesn't cover and the
    aggregate sibling of ``operators.joins.join_delta``.

    ``base`` holds keys + ``sum_cols`` + ``count_col`` (the state an
    earlier full aggregation produced); ``changelog`` holds keys +
    raw value columns named as ``sum_cols`` + ``op_col`` ∈
    {insert_op, delete_op}. Groups whose maintained count reaches 0
    are dropped (the group no longer exists — emitting a zero row
    would diverge from a from-scratch re-aggregation, the invariant
    this operator is oracle-checked against). A maintained count
    below 0 means the changelog retracts rows the base never held;
    that contract violation surfaces as a kept negative-count row
    rather than a silent clamp.

    Exactness: counts are BIGINT and sums must be DECIMAL/integer
    (the merge_agg_states order-independence rule); the signed fold is
    then bit-identical to re-aggregating base ∪ surviving rows.

    Scale: the changelog collapses to one partial-delta row per
    touched key (map-side combinable) BEFORE meeting the base state,
    so the merge shuffle moves |base keys| + |touched keys| rows —
    never raw changelog volume.
    """
    if not sum_cols:
        raise ValueError("apply_agg_delta: sum_cols must be non-empty")
    sign = (
        F.when(F.col(op_col) == insert_op, F.lit(1))
        .when(F.col(op_col) == delete_op, F.lit(-1))
        .otherwise(F.lit(None))
    )
    delta = (
        changelog.withColumn("__sign", sign)
        .groupBy(*keys)
        .agg(
            F.sum("__sign").cast("long").alias(count_col),
            *[
                F.sum(F.col(c) * F.col("__sign")).alias(c)
                for c in sum_cols
            ],
        )
    )
    merged = base.select(
        *keys, count_col, *sum_cols
    ).unionByName(delta.select(*keys, count_col, *sum_cols))
    out = merged.groupBy(*keys).agg(
        F.sum(count_col).cast("long").alias(count_col),
        *[F.sum(c).alias(c) for c in sum_cols],
    )
    return out.filter(F.col(count_col) != 0)


def running_distinct(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    *,
    out_col: str = "n_distinct_so_far",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Cumulative distinct count per key: for every row, how many
    DISTINCT ``value_col`` values the key has produced up to and
    including this row — "unique products seen so far", "vocabulary
    growth per source". SQL has no COUNT(DISTINCT) OVER a running
    frame; the rewrite is two windows over the SAME key partitioning:
    sorted by (value, time), a row is its value's first occurrence iff
    the previous row carries a different value — then a running sum of
    those flags over the event order.

    Ordering contract: (order_col, *order_tiebreak) must uniquely
    order each key's rows or the running prefix is not well-defined —
    same contract as ewma_dyadic. NULL values never count as distinct
    (flagged 0), matching COUNT(DISTINCT) semantics; NULL keys/orders
    are dropped.

    Scale shape: both windows partition on ``key_col`` ALONE (the
    first-occurrence flag comes from lag over a (value, time) sort,
    never a (key, value) partition, which would cost a second
    exchange), so Catalyst plans ONE exchange with two in-key sorts —
    plan-guarded. No join, no distinct, no per-row set state: the
    membership test is a sort adjacency check.
    """
    tiebreak = [F.col(c).asc() for c in (order_tiebreak or [])]
    base = df.filter(F.col(key_col).isNotNull() & F.col(order_col).isNotNull())
    w_first = Window.partitionBy(key_col).orderBy(
        F.col(value_col).asc_nulls_first(), F.col(order_col).asc(), *tiebreak
    )
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(F.col(order_col).asc(), *tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_val = F.lag(F.col(value_col)).over(w_first)
    first_flag = F.when(
        F.col(value_col).isNotNull()
        & (prev_val.isNull() | (prev_val != F.col(value_col))),
        1,
    ).otherwise(0)
    return (
        base.withColumn("__f", first_flag)
        .withColumn(out_col, F.sum("__f").over(w_run).cast("long"))
        .drop("__f")
    )


def islands(
    df: DataFrame,
    key_col: str,
    seq_col: str,
) -> DataFrame:
    """Gaps-and-islands: collapse each key's integer sequence values
    into maximal runs of consecutive values, returning one row per
    island with its bounds and size — missing-id detection,
    contiguous-date coverage, lease/online-interval reconstruction. A
    new island starts wherever the gap to the previous distinct value
    is not 1 (lag flag + running sum).

    Returns ``(key_col, island_start, island_end, n_values, n_rows)``
    — ``n_values`` distinct sequence values, ``n_rows`` raw rows
    (duplicates extend ``n_rows``, never break a run). NULL
    keys/values dropped.

    Scale shape: two windows (lag flag, running island id) and the
    (key, island) aggregate all on the SAME key hash — one exchange.
    A key's island structure sorts within its partition; islands
    never cross keys, so no global anything.
    """
    base = df.filter(
        F.col(key_col).isNotNull() & F.col(seq_col).isNotNull()
    ).select(F.col(key_col), F.col(seq_col).cast("long").alias("__v"))
    w = Window.partitionBy(key_col).orderBy(F.col("__v").asc())
    prev = F.lag("__v").over(w)
    new_island = F.when(
        prev.isNull()
        | ((F.col("__v") != prev) & (F.col("__v") - prev != 1)),
        1,
    ).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        base.withColumn("__i", F.sum(new_island).over(w_run))
        .groupBy(key_col, "__i")
        .agg(
            F.min("__v").alias("island_start"),
            F.max("__v").alias("island_end"),
            F.count_distinct(F.col("__v")).cast("long").alias("n_values"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .drop("__i")
    )


def topk_with_others(
    df: DataFrame,
    group_col: str,
    key_col: str,
    value_expr: Column,
    *,
    k: int = 5,
    others_label: str = "OTHER",
) -> DataFrame:
    """Top-k contributors per group with everything else collapsed
    into one ``OTHER`` row — the reporting pattern behind every "top 5
    clerks + rest" table, where a bare top-k silently drops the tail
    and readers can't see whether the head is 9% or 90% of the total.

    ``value_expr`` must be an exact-integer per-row measure (cents,
    counts, grid units) so the per-key sums and the OTHER rollup are
    order-independent BIGINT folds. Ranking is (sum DESC, key ASC) —
    deterministic under ties. Output per (group, label):
    ``rank`` (1..k for head rows, k+1 for OTHER — present only when a
    tail exists), ``total``, ``n_keys`` (1 for head rows, tail key
    count for OTHER).

    Scale shape: one keyed aggregate (map-side combinable), one
    per-group window over the AGGREGATED frame (cardinality = distinct
    keys, not rows), one final (group, label) aggregate. NULL keys are
    a legitimate contributor bucket and rank like any other; NULL
    groups are dropped.
    """
    if k < 1:
        raise ValueError("topk_with_others: k must be >= 1")
    sums = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col, key_col)
        .agg(F.sum(value_expr.cast("long")).cast("long").alias("__t"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("__t").desc(), F.col(key_col).asc_nulls_last()
    )
    ranked = sums.withColumn("__r", F.row_number().over(w))
    labeled = ranked.select(
        group_col,
        F.when(F.col("__r") <= k, F.col(key_col).cast("string"))
        .otherwise(F.lit(others_label))
        .alias("label"),
        F.when(F.col("__r") <= k, F.col("__r")).otherwise(F.lit(k + 1))
        .cast("long")
        .alias("rank"),
        "__t",
    )
    return labeled.groupBy(group_col, "label", "rank").agg(
        F.sum("__t").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )


# --- event-time windows and sessions ----------------------------------


def _window_stats(grouped) -> DataFrame:
    """Counts + min/max ``value`` per (window ``w``, key), with the
    window start rendered as text."""
    return grouped.agg(
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
    """Counts + min/max value per (tumbling window, key)."""
    grouped = events.groupBy(
        F.window(F.col(ts_col), window_duration).alias("w"), F.col(key_col)
    )
    return _window_stats(grouped).select(
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
    """Sliding (hopping) windows: each event contributes to
    ``duration/slide`` overlapping windows; same output as
    :func:`tumbling_event_counts`."""
    grouped = events.groupBy(
        F.window(F.col(ts_col), window_duration, slide_duration).alias("w"),
        F.col(key_col),
    )
    return _window_stats(grouped).select(
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
    """The :mod:`..datapipe.sketches` log-histogram sketch per tumbling
    window — ``(window_start, bucket, cnt)``. The sketch is a pure keyed
    COUNT over (window, bit-length bucket), so per-window state is ≤ 64
    rows however many events arrive. Negative and NULL values are
    dropped (the sketch's domain contract). The default value_expr
    floors explicitly: a bare double->BIGINT cast TRUNCATES on Spark but
    ROUNDS on DuckDB."""
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


DEFAULT_GAP_SECONDS = 30 * 60


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Assign a per-user 1-based ``session_seq`` to every event.

    A new session starts when the gap to the previous event of the same
    user exceeds ``gap_seconds`` (compared in exact microseconds —
    second-truncation would misclassify sub-second boundaries
    differently per engine). ``id_col`` makes the within-user order total
    (duplicate timestamps are real in event data). The classic lag +
    cumulative-sum window pair: one shuffle on the user key, exact,
    SQL-expressible (oracle-checkable).
    """
    from ..functions.dates import epoch_micros

    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w_lag = Window.partitionBy(user_col).orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = epoch_micros(ts_col, dict(events.dtypes)[ts_col])
    prev_us = F.lag(ts_us).over(w_lag)
    is_new = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(is_new).over(w_run).cast("long")
    )
