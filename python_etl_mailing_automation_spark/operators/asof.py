"""As-of join — Spark lacks a native one; this is the scalable
composition.

Semantics: for each left row, attach the right row with the greatest
``right_time <= left_time`` per key (ties on time broken by the largest
tiebreak value — made explicit for determinism).

Scale design — union-merge, NOT a range join: a naive
``join(key, right_time <= left_time)`` explodes to |L|·|R| per key before
picking one winner. Instead both sides union into one frame sorted per
key by (time, side), and a running ``last(value, ignorenulls)`` window
carries the most recent right values forward onto each left row. One
shuffle on the key, zero pair explosion — the merge-asof idea expressed
as a Spark window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import epoch_micros


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    value_cols: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Attach ``asof_<col>`` for each of the right's ``value_cols`` to
    every left row (latest right row at-or-before the left row's time);
    left rows with no prior right row get nulls."""
    right_types = dict(right.dtypes)
    left_types = dict(left.dtypes)

    # Right side: key/time/values, left payload absent (nulls).
    r = right.select(
        F.col(right_key).alias("__key"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),  # 0 sorts before left at equal time → '<='
        (F.col(tiebreak_col) if tiebreak_col else F.lit(0).cast("long")).alias("__tb"),
        *[F.col(c).alias(f"__v_{c}") for c in value_cols],
        *[F.lit(None).cast(left_types[c]).alias(f"__l_{c}") for c in left.columns],
    )
    # Left side: payload present, values absent (nulls).
    lf = left.select(
        F.col(left_key).alias("__key"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__tb"].dataType).alias("__tb"),
        *[F.lit(None).cast(right_types[c]).alias(f"__v_{c}") for c in value_cols],
        *[F.col(c).alias(f"__l_{c}") for c in left.columns],
    )
    u = r.unionByName(lf)
    w = (
        Window.partitionBy("__key")
        .orderBy(F.col("__t").asc(), F.col("__side").asc(), F.col("__tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "__side",
        *[F.col(f"__l_{c}").alias(c) for c in left.columns],
        *[
            F.last(F.col(f"__v_{c}"), ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return carried.filter(F.col("__side") == 1).drop("__side")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    ts_col: str = "ts",
    start_col: str = "start_ts",
    end_col: str = "end_ts",
    on: list[str] | None = None,
    granularity_s: int = 3600,
) -> DataFrame:
    """Interval (range-containment) join: each left row matches the right
    rows whose ``[start_col, end_col]`` interval contains its ``ts_col``
    (inclusive bounds), optionally also matching equi-keys ``on``.

    Scale design — time-bin equi-join, NOT a non-equi join: a naive
    ``left.join(right, ts BETWEEN start AND end)`` has no equi predicate,
    which Spark must plan as a broadcast-nested-loop — |L|·|R| work at
    scale. Instead both sides map onto ``granularity_s``-wide epoch bins:
    the left row's timestamp lands in exactly ONE bin; each right
    interval explodes into the bins it covers (``len/granularity + 1``
    rows — pick a granularity of the same order as typical interval
    length to bound the fan-out). The join is then a pure equi-join on
    (keys…, bin) with the exact BETWEEN as a post-filter, shuffling on a
    uniform composite key. Because the left bin is unique per row, a
    (left, right) pair can only meet in one bin — no dedup needed.
    """
    on = list(on or [])
    g_us = int(granularity_s) * 1_000_000
    # Exact integer binning: subtract the remainder first so the division
    # is of an exact multiple of g_us (epoch-µs < 2^53, representable as a
    # double, so the quotient is exact — a bare floor(us/g) could truncate
    # a bin boundary into the previous bin). epoch_micros handles both
    # TIMESTAMP and TIMESTAMP_NTZ (parquet reads back NTZ under Spark's
    # default inference).
    def _bin(df: DataFrame, col: str):
        us = epoch_micros(col, dict(df.dtypes)[col])
        return (us - (us % g_us)) / F.lit(g_us)

    lbin = _bin(left, ts_col).cast("long")
    rbins = F.explode(
        F.sequence(
            _bin(right, start_col).cast("long"), _bin(right, end_col).cast("long")
        )
    )
    lf = left.withColumn("__bin", lbin)
    rf = right.withColumn("__bin", rbins)
    # Renamed right-side equi-keys: when `right` derives from `left`
    # (e.g. per-key windows aggregated off the same event stream), the
    # same-name refs resolve to one attribute and Spark logs a
    # "trivially true equals predicate" warning on every run.
    ren = {k: f"__rk_{k}" for k in on}
    for k, rk in ren.items():
        rf = rf.withColumnRenamed(k, rk)
    cond = [lf["__bin"] == rf["__bin"]] + [
        lf[k] == rf[ren[k]] for k in on
    ]
    joined = lf.join(rf, on=cond).filter(
        (lf[ts_col] >= rf[start_col]) & (lf[ts_col] <= rf[end_col])
    )
    keep = [lf[c] for c in left.columns] + [
        rf[c] for c in right.columns if c not in on
    ]
    return joined.select(*keep)


def attribution_join(
    views: DataFrame,
    clicks: DataFrame,
    *,
    user_col: str = "user_id",
    view_ts_col: str = "view_ts",
    click_ts_col: str = "click_ts",
    horizon_s: int = 7200,
) -> DataFrame:
    """Ad attribution: all (view, click) pairs of the same user with
    ``view_ts <= click_ts <= view_ts + horizon_s``. Column names other
    than ``user_col`` must be disjoint between the two frames; the
    output carries every column of both sides, user key once.

    Scale design — the :func:`interval_join` rule, with the user key as
    the equi-predicate: the condition compiles to a shuffled equi-join
    on the user key with the time range as a post-filter (per-user
    match work, never a nested-loop over time).
    """
    dup = (set(views.columns) & set(clicks.columns)) - {user_col}
    if dup:
        raise ValueError(f"attribution_join: ambiguous columns {sorted(dup)}")
    v, c = views.alias("v"), clicks.alias("c")
    cond = (
        (F.col(f"v.{user_col}") == F.col(f"c.{user_col}"))
        & (F.col(click_ts_col) >= F.col(view_ts_col))
        & (
            F.col(click_ts_col)
            <= F.col(view_ts_col) + F.expr(f"INTERVAL {int(horizon_s)} SECOND")
        )
    )
    return v.join(c, on=cond).drop(F.col(f"c.{user_col}"))
