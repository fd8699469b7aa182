"""Time-series regularization — resampling onto a fixed grid with
gap filling — the hypertable/rollup primitive metric and sensor
pipelines need before any window arithmetic is meaningful (a rolling
mean over irregular samples is not a rolling mean).

Scale shape: one keyed aggregate collapses raw events to at most one
row per (key, bucket); the dense grid comes from a per-key
``sequence()`` explode bounded by span/step rows per key (never a
cross join against a global calendar — a key live for one day costs
one day of buckets, not the corpus's full history); the forward fill
is a single per-key window. Every exchange hashes on (key[, bucket])
— no global sort, no cross join, and skew is bounded by span/step
rows per key.

Determinism: buckets are ``floor(epoch_seconds / step) * step`` — the
same IEEE double ops on every engine; the per-bucket representative
row is picked by an explicit (ts, value) descending order, never
"whatever max_by saw last".
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_fill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    step_seconds: int = 86400,
    out_bucket: str = "bucket_ts",
    out_value: str = "value_filled",
    out_observed: str = "observed",
) -> DataFrame:
    """Regularize ``(key, ts, value)`` observations onto a
    ``step_seconds`` grid: per key, every bucket from the key's first
    to last observation exists in the output; buckets with
    observations carry the LAST observation in the bucket (ties on ts
    broken by larger value); empty buckets carry the previous bucket's
    value forward (``observed`` = false). Leading buckets are never
    synthesized before a key's first observation, and NULL-value
    observations are ignored.

    Returns ``(key_col, out_bucket timestamp, out_value,
    out_observed)``.
    """
    if step_seconds < 1:
        raise ValueError("resample_fill: step_seconds must be >= 1")
    obs = (
        df.select(
            F.col(key_col),
            F.col(ts_col).cast("timestamp").alias("__ts"),
            F.col(value_col).alias("__v"),
        )
        .filter(F.col("__ts").isNotNull() & F.col("__v").isNotNull())
        .withColumn(
            "__b",
            (
                F.floor(F.col("__ts").cast("double") / F.lit(float(step_seconds)))
                * F.lit(step_seconds)
            ).cast("long"),
        )
    )
    w_pick = Window.partitionBy(key_col, "__b").orderBy(
        F.col("__ts").desc(), F.col("__v").desc()
    )
    per_bucket = (
        obs.withColumn("__r", F.row_number().over(w_pick))
        .filter(F.col("__r") == 1)
        .select(key_col, "__b", "__v")
    )
    grid = (
        per_bucket.groupBy(key_col)
        .agg(F.min("__b").alias("__lo"), F.max("__b").alias("__hi"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step_seconds))
            ).alias("__b"),
        )
    )
    w_fill = (
        Window.partitionBy(key_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_bucket, on=[key_col, "__b"], how="left")
        .select(
            key_col,
            F.timestamp_seconds(F.col("__b")).alias(out_bucket),
            F.last("__v", ignorenulls=True).over(w_fill).alias(out_value),
            F.col("__v").isNotNull().alias(out_observed),
        )
    )


def max_concurrency(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    key_col: str | None = None,
) -> DataFrame:
    """Peak number of simultaneously-open half-open intervals
    ``[start, end)`` — per ``key_col`` when given — and the earliest
    instant the peak is reached: ``(key?, peak int, peak_at
    timestamp)``. The capacity-planning primitive (max concurrent
    sessions / open shipments / in-flight requests) that a naive
    per-instant join would compute quadratically.

    Sweep line, relationally: each interval explodes to (+1 at start,
    -1 at end); one running sum per key ordered by (time, delta) —
    delta -1 sorts first, so an interval ending exactly when another
    starts never overlaps it (half-open semantics) — and one keyed
    max(struct(run, -time)) picks the peak with the EARLIEST time at
    ties, deterministically. Intervals with ``end <= start`` or NULL
    endpoints are dropped (zero-length intervals are empty under
    half-open semantics).

    Scale shape: one explode (2 rows per interval), one window shuffle
    on the key, one keyed aggregate. The per-key running sum is the
    serial-per-key bound discussed at rolling_window_sum — for a hot
    key, the binned decomposition there transfers (sum deltas per bin,
    prefix over bins, scan within bin). WITHOUT ``key_col`` the running
    sum is a corpus-wide prefix, so it routes through
    :func:`~.prefix.global_running_sums` (range-bucketed two-pass — no
    single-partition window) instead of a global ``Window.orderBy``.
    """
    grp = [key_col] if key_col is not None else []
    base = df.filter(
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (F.col(end_col) > F.col(start_col))
    )
    deltas = base.select(
        *grp,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).cast("timestamp").alias("t"),
                    F.lit(1).alias("d"),
                ),
                F.struct(
                    F.col(end_col).cast("timestamp").alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("__e"),
    ).select(*grp, F.col("__e.t").alias("__t"), F.col("__e.d").alias("__d"))
    if grp:
        w = Window.partitionBy(*grp).orderBy(
            F.col("__t"), F.col("__d")
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        runs = deltas.select(
            *grp,
            "__t",
            F.sum("__d").over(w).cast("int").alias("__run"),
        )
    else:
        from .prefix import global_running_sums

        # Boundary sample rides the cheap raw start-column scan — the
        # start times alone carry the event-time distribution, and
        # boundaries only steer balance — so the exploded delta stream
        # is evaluated once, in the main plan (whose two branches share
        # it via exchange reuse; round-10 measured a localCheckpoint
        # detach here as strictly slower).
        runs = global_running_sums(
            deltas,
            ["__t", "__d"],
            {"__run": "__d"},
            boundary_source=base.select(
                F.col(start_col).cast("timestamp").alias("__t")
            ),
        ).select("__t", F.col("__run").cast("int").alias("__run"))
    best = runs.groupBy(*grp).agg(
        F.max(
            F.struct(
                F.col("__run").alias("run"),
                (-F.unix_micros(F.col("__t"))).alias("nts"),
            )
        ).alias("__b")
    )
    return best.select(
        *grp,
        F.col("__b.run").alias("peak"),
        F.timestamp_micros(-F.col("__b.nts")).alias("peak_at"),
    )


_GRID = 2.0**40


def seasonal_anomalies(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    *,
    factor: float = 2.0,
) -> DataFrame:
    """Seasonal-baseline anomaly detection — the metrics-pipeline
    primitive: per (key, hour-of-day bucket 0-23) the mean value is the
    baseline, and rows with ``value > factor · baseline`` are flagged.

    Exactness: baselines are grid-exact means (floor(v·2^40) summed in
    DECIMAL(38,0) — overflow envelope n·v̄ < 10^38/2^40 ≈ 3.6·10^26 per
    bucket, effectively unbounded; a BIGINT sum would wrap at
    n·v̄ ≈ 2^23 — divided back in one fixed op order), so the flag
    decision is bit-reproducible; pick a ``factor`` exactly
    representable in binary (2.0, 1.5, 2.5 — not 1.1) to keep the
    threshold itself engine-exact. Per-row values must stay under
    2^63/2^40 ≈ 8.4e6 for the floor-grid cast itself.

    Scale shape: one (key, season) aggregate — keys × 24 baseline
    rows, joined back WITHOUT a broadcast hint: the baseline's
    size is unbounded in key cardinality, so AQE picks broadcast when
    the measured size allows and a shuffle join otherwise. The flag is
    then a scan-side projection. Returns the flagged rows with
    ``season_bucket``, ``baseline`` and ``ratio`` appended.
    """
    bucket = F.hour(F.col(ts_col))
    v = F.col(value_col)
    base = (
        df.filter(v.isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col),
            bucket.alias("season_bucket"),
            F.floor(v * F.lit(_GRID)).cast("decimal(38,0)").alias("__g"),
        )
        .groupBy(key_col, "season_bucket")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__g").alias("__s"),
        )
        .select(
            key_col,
            "season_bucket",
            (
                (F.col("__s").cast("double") / F.lit(_GRID))
                / F.col("__n").cast("double")
            ).alias("baseline"),
        )
    )
    flagged = (
        df.filter(v.isNotNull() & F.col(ts_col).isNotNull())
        .withColumn("season_bucket", bucket)
        # no forced broadcast: the baseline is keys × season_buckets
        # rows, UNBOUNDED in key cardinality (per-user keys at 100 TB
        # blow any broadcast limit) — AQE broadcasts it when it measures
        # small and falls back to a shuffle join when it doesn't, the
        # same posture as tokenizer.bpe_segment_join.
        .join(base, on=[key_col, "season_bucket"])
        .filter(v > F.lit(factor) * F.col("baseline"))
    )
    return flagged.withColumn("ratio", v / F.col("baseline"))


def time_weighted_mean(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    value_scale_bits: int = 20,
) -> DataFrame:
    """Time-weighted average (TWAP) of an irregularly sampled series,
    per key: each observation holds its value until the next one, so
    the mean over the key's live span [first_ts, last_ts] weights each
    value by its holding duration — the correct summary for sensor /
    price / state series where plain AVG over-counts bursts of dense
    samples. Returns ``(key_col, twap, span_us, n_obs)``; keys with a
    single observation (zero span) yield a NULL twap.

    Exactness: per-row weight is the integer microsecond gap to the
    next observation (a ``lead`` window); the weighted accumulation
    rides an integer grid — ``floor(value · 2^bits)`` (BIGINT) times
    the gap, summed in DECIMAL(38,0), partition-order independent —
    and ONE final double division sequence converts back. Ties on
    ``ts`` are broken by value descending so the lead is deterministic.

    Scale shape: one per-key window (the same hash exchange the final
    aggregate reuses — a single shuffle end to end) and one keyed
    aggregate; state per key is O(1). Grid products are bounded by
    2^bits · |value| · span_us, far inside DECIMAL(38,0) for any real
    clock span.
    """
    from ..functions.dates import epoch_micros

    k, v = F.col(key_col), F.col(value_col)
    # epoch_micros, NOT a double round-trip: Spark's double→long cast
    # truncates while other engines round, and micros/1e6·1e6 is not an
    # exact integer — the integer extraction sidesteps both (and the
    # helper absorbs TIMESTAMP vs TIMESTAMP_NTZ).
    scale = float(2.0**value_scale_bits)
    rows = df.select(
        k.alias("__k"),
        epoch_micros(ts_col, dict(df.dtypes)[ts_col]).alias("__us"),
        F.floor(v * F.lit(scale)).cast("long").alias("__vg"),
    ).withColumn(
        "__gap",
        (
            F.lead("__us").over(
                Window.partitionBy("__k").orderBy(
                    F.col("__us").asc(), F.col("__vg").desc()
                )
            )
            - F.col("__us")
        ),
    )
    agg = rows.groupBy("__k").agg(
        F.sum(
            (F.col("__vg").cast("decimal(38,0)") * F.col("__gap"))
        ).alias("__wsum"),
        # a single-observation key has only a NULL gap: its span is 0,
        # not unknown (same posture as quality.constraint_report's
        # empty-batch coalesce)
        F.coalesce(F.sum("__gap"), F.lit(0)).alias("__span"),
        F.count(F.lit(1)).alias("n_obs"),
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.when(
            F.col("__span") > 0,
            (F.col("__wsum").cast("double") / F.lit(scale))
            / F.col("__span").cast("double"),
        ).alias("twap"),
        F.col("__span").cast("long").alias("span_us"),
        F.col("n_obs").cast("long").alias("n_obs"),
    )


def interpolate_linear(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    out_col: str = "value_filled",
) -> DataFrame:
    """Linear interpolation of NULL values in a per-key time series:
    each missing sample is filled on the straight line between its
    nearest non-NULL neighbors in event time — the gap-completion
    semantics sensor/metric pipelines want when forward fill
    (:func:`resample_fill`) would flat-line a ramp. Leading gaps take
    the next value (back fill), trailing gaps the previous (forward
    fill), keys with no observed value stay NULL. Non-NULL samples
    pass through untouched.

    Exactness: neighbor lookup is two IGNORE-NULLS window scans over
    (value, integer-microsecond ts) structs; the interpolation is one
    fixed IEEE sequence — ``prev + (next - prev) * (dt / span)`` with
    both time deltas exact BIGINT-to-double conversions — identical on
    any engine. Ties on ``ts`` order by value descending (NULLS LAST)
    so the neighbor choice is deterministic.

    Scale shape: both windows ride ONE hash exchange on the key (same
    partitioning, same sort), per-row state O(1) — the running-frame
    form of last/first ignorenulls, no joins, no grid explode.
    """
    from ..functions.dates import epoch_micros

    us = epoch_micros(ts_col, dict(df.dtypes)[ts_col])
    v = F.col(value_col)
    order = [F.col("__us").asc(), v.desc_nulls_last()]
    wprev = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wnext = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs = F.when(
        v.isNotNull(), F.struct(F.col("__us").alias("t"), v.alias("x"))
    )
    base = df.withColumn("__us", us)
    prev_ = F.last(obs, ignorenulls=True).over(wprev)
    next_ = F.first(obs, ignorenulls=True).over(wnext)
    filled = (
        F.when(v.isNotNull(), v)
        .when(
            prev_.isNotNull() & next_.isNotNull(),
            F.when(
                next_.getField("t") == prev_.getField("t"),
                prev_.getField("x"),
            ).otherwise(
                prev_.getField("x")
                + (next_.getField("x") - prev_.getField("x"))
                * (
                    (F.col("__us") - prev_.getField("t")).cast("double")
                    / (
                        next_.getField("t") - prev_.getField("t")
                    ).cast("double")
                )
            ),
        )
        .when(prev_.isNotNull(), prev_.getField("x"))
        .when(next_.isNotNull(), next_.getField("x"))
    )
    return base.withColumn(out_col, filled).drop("__us")


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Cohort retention matrix: group users by first-activity week, then
    for each (cohort, weeks-since-first) cell count how many of the
    cohort's users were active — the standard growth/engagement rollup
    and, for corpus work, the contributor-churn view of a crawl.

    Week index is ``days_since_epoch div 7`` — a pure integer, never an
    engine's date_trunc week convention (ISO-vs-US week starts are the
    classic cross-engine mismatch). Retention is emitted as the exact
    integer pair (``n_active``, ``n_cohort``) plus ONE double division.

    Scale shape: distinct (user, week) collapse, then the per-user
    cohort week is a window MIN over the SAME user-hash partitioning —
    no user-level self-join, one exchange covers both. The retention
    cells are one (cohort, offset) count; cohort sizes live in a frame
    of one row per cohort week — broadcast back, never a window over
    the full activity table. NULL user/ts rows are dropped (no
    activity identity to retain).
    """
    u, t = F.col(user_col), F.col(ts_col)
    week = F.expr(
        f"datediff(cast({ts_col} as date), date'1970-01-01') div 7"
    ).cast("long")
    active = (
        df.filter(u.isNotNull() & t.isNotNull())
        .select(u.alias("__u"), week.alias("week"))
        .distinct()
    )
    wu = Window.partitionBy("__u")
    tagged = active.withColumn("cohort_week", F.min("week").over(wu))
    cells = tagged.groupBy(
        "cohort_week",
        (F.col("week") - F.col("cohort_week")).alias("week_offset"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    sizes = (
        tagged.filter(F.col("week") == F.col("cohort_week"))
        .groupBy("cohort_week")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    )
    return cells.join(F.broadcast(sizes), on="cohort_week").withColumn(
        "retention",
        F.col("n_active").cast("double") / F.col("n_cohort").cast("double"),
    )


def ewma_dyadic(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    window: int = 8,
    grid_bits: int = 20,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Truncated exponentially-weighted moving average with dyadic
    decay 1/2: per key, over each row's trailing ``window`` events,
    the weighted mean with weights 2^(window-1-lag) — the smoothing
    primitive of monitoring/trend pipelines, built grid-exact so the
    result crosses engines bit-identically (a float recurrence
    ``ewma = a*x + (1-a)*ewma`` is order-fragile; this is not).

    Exactness: values land on the floor(v·2^grid_bits) integer grid;
    every weighted sum accumulates in DECIMAL(38,0) (a BIGINT
    accumulator would wrap: one contribution is already
    |v|·2^(grid_bits+window-1), past int64 at the allowed extremes);
    ONE double division at the end (num / (den·2^grid_bits)). The
    decimal sums stay exact while |v| < 2^(126-grid_bits-window)
    (~10^38 headroom) — beyond that Spark nulls the overflow rather
    than wrapping silently. Early rows (fewer than ``window``
    predecessors) renormalize over the weights actually present —
    the standard "adjusted" EWMA convention.

    Scale shape: NOT a per-row array scan — each event contributes to
    its next ``window`` positions via a bounded explode (window ×
    rows), collapsed by one (key, position) aggregate, then one
    equi-join back to the anchor rows. All exchanges hash on the key;
    a hot key costs window× its rows, same bound as its window scan.
    ``order_cols`` breaks timestamp ties deterministically (defaults
    to the value column — document YOUR tiebreak at call sites).
    """
    if window < 1 or window > 62:
        raise ValueError("ewma_dyadic: window must be in [1, 62]")
    tiebreak = order_cols or [value_col]
    w_order = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    grid = F.floor(F.col(value_col).cast("double") * F.lit(float(2 ** grid_bits))).cast("long")
    base = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .withColumn("__pos", F.row_number().over(w_order).cast("long"))
        .withColumn("__xg", grid)
    )
    lag = F.explode(F.sequence(F.lit(0), F.lit(window - 1))).alias("__lag")
    weight = F.expr(f"shiftleft(1L, {window - 1} - __lag)").cast("long")
    contrib = base.select(
        F.col(key_col).alias("__k"), "__pos", "__xg", lag
    ).select(
        "__k",
        (F.col("__pos") + F.col("__lag")).alias("__tpos"),
        (F.col("__xg").cast("decimal(38,0)") * weight).alias("__num_part"),
        weight.alias("__w_part"),
    )
    sums = contrib.groupBy("__k", "__tpos").agg(
        F.sum("__num_part").cast("decimal(38,0)").alias("__num"),
        F.sum("__w_part").cast("long").alias("__den"),
    )
    return (
        base.join(
            sums,
            (base["__pos"] == sums["__tpos"])
            & (base[key_col] == sums["__k"]),
        )
        .withColumn(
            "ewma",
            # den·2^grid_bits in decimal too — at window=62, grid_bits=20
            # the BIGINT divisor would itself wrap (2^81)
            F.col("__num").cast("double")
            / (
                F.col("__den").cast("decimal(38,0)") * F.lit(2 ** grid_bits)
            ).cast("double"),
        )
        .drop("__k", "__tpos", "__pos", "__xg", "__num", "__den")
    )


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    state_col: str,
    *,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First-order Markov transition counts over per-key event
    sequences: for every adjacent (state → next state) step, the count,
    the from-state total, and the transition probability as ONE double
    division over the two exact counts — the path-analysis primitive
    behind "what do users do after X" and behavioral-model features.

    Scale shape: one per-key window (single hash exchange, rows sorted
    within key) emits each row's successor via LEAD; the (from, to)
    aggregate map-side combines; from-state totals ride a second
    window over the TRANSITION frame — state-cardinality² rows, not
    corpus rows. Terminal events (no successor) drop out of the
    matrix; NULL key/ts/state rows are dropped. ``order_cols`` breaks
    timestamp ties deterministically — pass a unique id column
    whenever timestamps can collide (same contract as ewma_dyadic).
    """
    tiebreak = order_cols or []
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    steps = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(state_col).isNotNull()
        )
        .select(
            F.col(state_col).alias("from_state"),
            F.lead(state_col).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
    )
    counts = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wf = Window.partitionBy("from_state")
    return counts.withColumn(
        "n_from", F.sum("n").over(wf).cast("long")
    ).withColumn(
        "prob", F.col("n").cast("double") / F.col("n_from").cast("double")
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    *,
    target: float,
    slack: float = 0.0,
    threshold: float,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Two-sided CUSUM drift detection (Page 1954) per key: the
    classic change-detection statistic S⁺_i = max(0, S⁺_{i-1} + (x_i -
    target - slack)) and its lower twin S⁻_i = max(0, S⁻_{i-1} +
    (target - slack - x_i)), alarming when either exceeds
    ``threshold`` — the standard monitor for sustained drift in a
    metric stream (data-quality regression, sensor shift, traffic
    anomaly), where a single outlier shouldn't alarm but a persistent
    small shift must.

    The recurrence LOOKS inherently sequential (a max(0,·) between
    every pair of rows), but it has an exact closed form over prefix
    sums: with d_i the per-row increment and P_i its prefix sum,
    S_i = P_i - min(0, min_{j<=i} P_j). That turns the whole statistic
    into two stacked window expressions — a running sum and a running
    min OVER that sum — with no recursion, no UDF, and no per-row
    loop; both windows share one (key, order) sort so the plan carries
    a single exchange.

    Exactness: values/targets land on the floor(·2^20) integer grid;
    prefix sums accumulate in DECIMAL(38,0) (a BIGINT prefix over
    millions of rows of 2^20-scaled values courts int64 wrap); the
    alarm compare happens on the integer grid; ONE double division per
    side at the end. Bit-identical across engines.

    Returns the input rows (key, ts, order tiebreaks untouched) plus
    ``cusum_hi``, ``cusum_lo`` (doubles) and ``alarm`` (boolean).

    Scale shape: one hash exchange on the key, one per-key sort, two
    window passes over it. Per-key serial like every ordered-prefix
    operator (the rolling-window family note applies: a pathological
    hot key bounds the stage; keys here are users/devices/tables —
    naturally numerous).
    """
    g = float(2**20)
    tiebreak = order_cols or [value_col]
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in tiebreak]
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tg = int(math.floor(target * g))
    sg = int(math.floor(slack * g))
    hg = int(math.floor(threshold * g))
    xg = F.floor(F.col(value_col).cast("double") * F.lit(g)).cast(
        "decimal(38,0)"
    )
    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        "*",
        (xg - F.lit(tg + sg)).alias("__d_hi"),
        (F.lit(tg - sg) - xg).alias("__d_lo"),
    )
    pref = base.select(
        "*",
        F.sum("__d_hi").over(run).alias("__p_hi"),
        F.sum("__d_lo").over(run).alias("__p_lo"),
    )
    s_hi = F.col("__p_hi") - F.least(
        F.lit(0).cast("decimal(38,0)"), F.min("__p_hi").over(run)
    )
    s_lo = F.col("__p_lo") - F.least(
        F.lit(0).cast("decimal(38,0)"), F.min("__p_lo").over(run)
    )
    return (
        pref.select(
            "*",
            s_hi.alias("__s_hi"),
            s_lo.alias("__s_lo"),
        )
        .select(
            "*",
            (F.col("__s_hi").cast("double") / F.lit(g)).alias("cusum_hi"),
            (F.col("__s_lo").cast("double") / F.lit(g)).alias("cusum_lo"),
            (
                (F.col("__s_hi") > F.lit(hg)) | (F.col("__s_lo") > F.lit(hg))
            ).alias("alarm"),
        )
        .drop("__d_hi", "__d_lo", "__p_hi", "__p_lo", "__s_hi", "__s_lo")
    )


def interval_union_length(
    df: DataFrame,
    start_col: str,
    end_col: str,
    *,
    key_col: str | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Total covered time of a set of possibly-overlapping intervals
    per key — "how long was the user actually active", billing-hour
    union, SLA coverage — the question a plain SUM(end-start)
    double-counts whenever sessions overlap.

    Sweep: intervals sorted by (start, end, order_cols); an interval
    starts a NEW merged run iff its start exceeds the running max of
    all previous ends (strictly — touching intervals merge); the flag's
    running sum numbers the runs; one keyed aggregate per (key, run)
    takes min(start)/max(end); one more per key sums exact epoch-µs
    span. Timestamps are compared as integer microseconds end to end.

    Returns per key: ``n_intervals`` (raw), ``n_merged`` (runs),
    ``covered_us`` and ``covered_s`` (exact µs, one double division).
    Zero/negative-length intervals (end <= start) are dropped and NOT
    counted (witnessed by n_intervals counting only kept rows).

    Scale shape: one hash exchange on the key carrying both windows
    (same ordering), then two map-side-combinable keyed aggregates.
    Per-key serial like every ordered sweep; keys are entities, so the
    hot-key caveat is the standard per-entity window note.
    """
    us = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    keys = [key_col] if key_col else []
    tiebreak = order_cols or []
    cond = (
        F.col(start_col).isNotNull()
        & F.col(end_col).isNotNull()
        & (us(end_col) > us(start_col))
    )
    for k in keys:
        cond = cond & F.col(k).isNotNull()
    base = df.filter(cond).select(
        *keys,
        us(start_col).alias("__s"),
        us(end_col).alias("__e"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(tiebreak)],
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__s").asc(),
        F.col("__e").asc(),
        *[F.col(f"__o{i}").asc() for i in range(len(tiebreak))],
    )
    prev_max_end = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    tb = [f"__o{i}" for i in range(len(tiebreak))]
    flagged = base.select(
        *keys,
        "__s",
        "__e",
        *tb,
        F.when(
            prev_max_end.isNull() | (F.col("__s") > prev_max_end), 1
        )
        .otherwise(0)
        .alias("__new"),
    ).select(
        *keys,
        "__s",
        "__e",
        F.sum("__new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__run"),
    )
    runs = flagged.groupBy(*keys, "__run").agg(
        F.min("__s").alias("__rs"),
        F.max("__e").alias("__re"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    return runs.groupBy(*keys).agg(
        F.sum("__n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.sum(F.col("__re") - F.col("__rs")).cast("long").alias("covered_us"),
        (
            F.sum(F.col("__re") - F.col("__rs")).cast("double") / F.lit(1e6)
        ).alias("covered_s"),
    )


def acf_lags(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    *,
    max_lag: int = 3,
) -> DataFrame:
    """Per-key autocorrelation function at lags ``1..max_lag`` of an
    INTEGER-valued series, from exact integer moments — the
    seasonality/persistence probe next to :func:`ewma_events` (does a
    user's spend at t predict spend at t+k? is the metric white noise
    after the trend is removed?).

    The textbook estimator (x̄ the full-series mean, both sums over the
    n−k overlapping pairs' full window):

        r_k = Σ_{t≤n−k} (x_t − x̄)(x_{t+k} − x̄)  /  Σ_t (x_t − x̄)²

    Multiplying numerator and denominator by n² clears the rational
    mean into pure integers:

        n²·num_k = n²·Σ x_t·x_{t+k} − n·S·Σ_{t≤n−k}(x_t + x_{t+k})
                   + (n−k)·S²
        n²·den   = n·(n·Σx² − S²)            (S = Σx)

    accumulated in DECIMAL(38,0) (DuckDB mirror: HUGEINT) so both
    engines agree bit-for-bit; the only floating point is the single
    final division. Same 10^38 envelope as ``exact_corr`` — n²·Σx·x
    must stay under it, so pre-scale values (cents, not micro-units)
    for very long series. Keys with zero variance or n ≤ k yield NULL
    ``acf`` for that lag (the n ≤ k row still appears, with NULL).

    Output: one row per (key, lag) — ``(key_col, lag, n, acf)``.

    Scale shape: ``lead(k)`` over ONE window partitioned by key (a
    task sorts only one key's rows), then a single per-key aggregate
    with map-side combine carrying 2·max_lag + 3 decimal accumulators,
    then a bounded literal-array explode to (key, lag) grain. No
    self-join, no unpartitioned window, one shuffle on the key.
    """
    if max_lag < 1:
        raise ValueError("acf_lags: max_lag must be >= 1")
    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    x = F.col("__x").cast("decimal(38,0)")
    base = df.select(
        F.col(key_col), F.col(order_col), F.col(value_col).alias("__x")
    ).filter(F.col("__x").isNotNull())
    led = base.select(
        key_col,
        "__x",
        *[
            F.lead("__x", k).over(w).alias(f"__x{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    lag_aggs = []
    for k in range(1, max_lag + 1):
        xk = F.col(f"__x{k}").cast("decimal(38,0)")
        lag_aggs.append(F.sum(x * xk).alias(f"__cross{k}"))
        lag_aggs.append(
            F.sum(F.when(xk.isNotNull(), x + xk)).alias(f"__pair{k}")
        )
    agg = led.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s"),
        F.sum(x * x).alias("__sxx"),
        *lag_aggs,
    )
    nd = F.col("__n").cast("decimal(38,0)")
    s = F.col("__s")
    den = (nd * (nd * F.col("__sxx") - s * s)).cast("double")
    rows = []
    for k in range(1, max_lag + 1):
        kd = F.lit(k).cast("decimal(38,0)")
        num = (
            nd * nd * F.col(f"__cross{k}")
            - nd * s * F.col(f"__pair{k}")
            + (nd - kd) * s * s
        ).cast("double")
        rows.append(
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.when(
                    (F.col("__n") > k) & (den > 0), num / den
                ).alias("acf"),
            )
        )
    ex = agg.select(
        key_col,
        F.col("__n").cast("long").alias("n"),
        F.explode(F.array(*rows)).alias("__e"),
    )
    return ex.select(
        key_col, F.col("__e.lag").alias("lag"), "n", F.col("__e.acf").alias("acf")
    )


def seasonal_profile(
    df: DataFrame,
    phase_col: str,
    value_col: str,
    *,
    key_col: str | None = None,
) -> DataFrame:
    """Seasonal decomposition at the profile grain: per phase (hour of
    day, day of week — any caller-derived cyclic label), the mean of an
    INTEGER-valued series and its deviation from the overall mean — the
    classical seasonal-naive profile (the S in an STL-style
    trend/season/residual split, computed exactly instead of by loess):

        mean(phase)  = Σ v_phase / n_phase
        seasonal_dev = mean(phase) − mean(all)

    Values must be integer-valued (cast to DECIMAL(38,0) — pre-scale to
    cents/micros as with :func:`~.stats.exact_corr`), so every sum is
    exact and order-independent; the two means are single IEEE
    divisions and the deviation one fixed-order subtraction —
    bit-identical across engines and partitionings.

    Output: one row per (key?, phase) — ``(key_col?, phase_col, n,
    mean_value, overall_mean, seasonal_dev)``.

    Scale shape: one (key, phase) aggregate with map-side combine, one
    key-grain re-aggregate, one equi-join back on the key (grouped) or
    the sanctioned one-row broadcast (ungrouped). No window.
    """
    grp = [key_col] if key_col else []
    v = F.col(value_col).cast("decimal(38,0)")
    base = df.filter(
        F.col(phase_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(*grp, F.col(phase_col), v.alias("__v"))
    per_phase = base.groupBy(*grp, phase_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__v").alias("__s"),
    )
    totals = per_phase.groupBy(*grp).agg(
        F.sum("n").alias("__tn"), F.sum("__s").alias("__ts")
    )
    joined = (
        per_phase.join(totals, grp)
        if grp
        else per_phase.crossJoin(F.broadcast(totals))
    )
    mean_p = F.col("__s").cast("double") / F.col("n").cast("double")
    mean_all = F.col("__ts").cast("double") / F.col("__tn").cast("double")
    return joined.select(
        *grp,
        phase_col,
        "n",
        mean_p.alias("mean_value"),
        mean_all.alias("overall_mean"),
        (mean_p - mean_all).alias("seasonal_dev"),
    )
