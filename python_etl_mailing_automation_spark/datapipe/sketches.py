"""Mergeable probabilistic sketches — Bloom membership, Count-Min
frequency, and log-histogram quantiles — in the engine's deterministic
idiom, completing the sketch family next to the KMV distinct-count
sketch in :mod:`.stats`.

Why sketches at 100 TB: decontamination and blocklist checks against a
big corpus are semi-joins whose build side may not be broadcastable as
raw keys but IS broadcastable as a Bloom filter (m_bits/8 bytes,
independent of key width); frequency cutoffs (drop docs from hosts seen
> N times, boilerplate n-grams) need counts per key without shipping
the full key->count map to every executor. Both sketches here are
relational frames of words/cells, so they merge by re-aggregation
(bit_or / sum) and broadcast-join into the probe side — no driver
state, no UDFs, no randomness.

Determinism contract (the oracle discipline): positions come from the
60-bit md5 prefix (exact in BIGINT on any engine) of
``value '#' hash_index``; words hold bits 0..61 only, because a 1<<63
BIGINT shift is an overflow error in DuckDB while Java wraps to the
sign bit — 62 usable bits per word keeps every engine in defined,
positive-shift territory. Identical inputs therefore give bit-identical
sketch frames and probe verdicts everywhere.

Sizing (public formulas): Bloom false-positive rate ~ (1 - e^{-kn/m})^k
— m_bits ≈ 1.44 · k · n_distinct for the k-optimal point; Count-Min
overestimate ≤ e/width · N with probability 1 - e^{-depth} (Cormode &
Muthukrishnan 2005). Both sketches only ever OVER-report (no false
negatives / no undercounts), which is the safe direction for
decontamination and frequency-cap filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_BITS_PER_WORD = 62


def _pos60(value_col: str, salt: int) -> "F.Column":
    """60-bit md5 prefix of ``value '#' salt`` as a non-negative long."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col(value_col).cast("string"), F.lit(str(salt)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def bloom_build(
    df: DataFrame,
    value_col: str,
    *,
    m_bits: int = 65536,
    k_hashes: int = 4,
) -> DataFrame:
    """Build a Bloom filter over the distinct non-NULL values of
    ``value_col``. Returns the filter as a relational frame
    ``(word_idx long, word long)`` — only non-zero words are present,
    so an empty input yields an empty frame (probes all miss).

    Scale shape: distinct -> k-row explode (constant factor) -> one
    groupBy(word_idx).bit_or — a single shuffle bounded by
    ``m_bits / 62`` output rows. Two filters over split inputs merge by
    unioning the frames and re-running the same bit_or groupBy.
    """
    if m_bits < _BITS_PER_WORD:
        raise ValueError("bloom_build: m_bits must be >= 62")
    if k_hashes < 1:
        raise ValueError("bloom_build: k_hashes must be >= 1")
    vals = df.select(F.col(value_col).cast("string").alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    pos = vals.select(
        F.explode(
            F.array(*[(_pos60("__v", i) % m_bits).alias(str(i)) for i in range(k_hashes)])
        ).alias("__p")
    )
    return (
        pos.select(
            (F.col("__p") / F.lit(_BITS_PER_WORD)).cast("long").alias("word_idx"),
            # shiftleft's python binding takes only a literal shift;
            # the SQL form accepts a column
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p % {_BITS_PER_WORD} AS INT))"
            ).alias("__m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )


def bloom_probe(
    df: DataFrame,
    value_col: str,
    bloom: DataFrame,
    *,
    m_bits: int = 65536,
    k_hashes: int = 4,
    out_col: str = "maybe_member",
) -> DataFrame:
    """Append boolean ``out_col``: True iff every one of the value's
    ``k_hashes`` bits is set in ``bloom`` (a ``bloom_build`` frame with
    the SAME m_bits / k_hashes). NULL values probe to NULL. No false
    negatives by construction; false positives at the standard Bloom
    rate for the chosen sizing.

    Scale shape: membership is decided per DISTINCT value (k rows
    each), with the sketch frame broadcast (≤ m_bits/62 rows); the
    verdict then joins back to the full frame on the value — the big
    side is touched by exactly one shuffle-join on the probe key, never
    by the k-way explode.
    """
    vals = df.select(F.col(value_col).cast("string").alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    pos = vals.select(
        "__v",
        F.explode(
            F.array(*[(_pos60("__v", i) % m_bits).alias(str(i)) for i in range(k_hashes)])
        ).alias("__p"),
    ).select(
        "__v",
        (F.col("__p") / F.lit(_BITS_PER_WORD)).cast("long").alias("word_idx"),
        (F.col("__p") % _BITS_PER_WORD).cast("int").alias("__b"),
    )
    hit = (
        pos.join(F.broadcast(bloom), on="word_idx", how="left")
        .select(
            "__v",
            F.when(
                F.expr(
                    "(shiftright(coalesce(word, CAST(0 AS BIGINT)), __b)"
                    " & CAST(1 AS BIGINT)) = 1"
                ),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("__hit"),
        )
        .groupBy("__v")
        .agg((F.min("__hit") == 1).alias(out_col))
    )
    return df.join(
        hit, on=F.col(value_col).cast("string") == F.col("__v"), how="left"
    ).drop("__v")


def cms_build(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Build a Count-Min sketch of the occurrence counts of
    ``value_col`` (NULLs ignored). Returns ``(row_idx int, col_idx long,
    cnt long)`` — only touched cells are materialized; absent cells are
    zero.

    Scale shape: depth-row explode -> one groupBy((row, col)).sum with
    map-side partial aggregation; output bounded by width · depth
    regardless of input size. Sketches over shards merge by union +
    the same sum groupBy. Counts are exact BIGINT sums — the estimate
    is engine-exact even though it is approximate w.r.t. truth.
    """
    if width < 1 or depth < 1:
        raise ValueError("cms_build: width and depth must be >= 1")
    vals = df.select(
        F.col(value_col).cast("string").alias("__v"),
        F.lit(1).cast("long").alias("__w"),
    ).filter(F.col("__v").isNotNull())
    cells = vals.select(
        "__w",
        F.posexplode(
            F.array(*[(_pos60("__v", i) % width).alias(str(i)) for i in range(depth)])
        ).alias("row_idx", "col_idx"),
    )
    return (
        cells.groupBy(
            F.col("row_idx").cast("int").alias("row_idx"), "col_idx"
        ).agg(F.sum("__w").cast("long").alias("cnt"))
    )


def cms_estimate(
    df: DataFrame,
    value_col: str,
    cms: DataFrame,
    *,
    width: int = 1024,
    depth: int = 4,
    out_col: str = "est_cnt",
) -> DataFrame:
    """Append ``out_col``: the Count-Min estimate (min over the depth
    rows; an untouched cell counts as 0) of each row's value under a
    ``cms_build`` frame with the SAME width / depth. NULL values
    estimate to NULL. Estimates never undercount the true frequency —
    guaranteed by :func:`cms_build`'s non-negative-weight contract
    (negative weights would poison the min-over-depth with an
    undercounting cell, which is why the builder drops them).

    Scale shape: mirrors :func:`bloom_probe` — per-distinct-value
    probe against the broadcast (≤ width · depth rows) sketch, joined
    back on the value key.
    """
    vals = df.select(F.col(value_col).cast("string").alias("__v")).filter(
        F.col("__v").isNotNull()
    ).distinct()
    cells = vals.select(
        "__v",
        F.posexplode(
            F.array(*[(_pos60("__v", i) % width).alias(str(i)) for i in range(depth)])
        ).alias("row_idx", "col_idx"),
    ).select("__v", F.col("row_idx").cast("int").alias("row_idx"), "col_idx")
    est = (
        cells.join(F.broadcast(cms), on=["row_idx", "col_idx"], how="left")
        .groupBy("__v")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias(out_col)
        )
    )
    return df.join(
        est, on=F.col(value_col).cast("string") == F.col("__v"), how="left"
    ).drop("__v")


def cms_join_size(
    cms_a: DataFrame,
    cms_b: DataFrame,
    *,
    depth: int = 4,
    out_col: str = "est_pairs",
) -> DataFrame:
    """Equi-join SIZE estimate from two :func:`cms_build` sketches with
    the same width/depth (the AMS/CMS inner-product estimator, Alon-
    Matias-Szegedy 1996 / Cormode-Muthukrishnan 2005): per depth row,
    Σ_col a·b over-estimates Σ_v f_A(v)·f_B(v) = |A ⋈ B| (colliding
    values only ADD cross terms), and the min over the depth rows is
    the estimate — never an undercount, same one-sided error as
    :func:`cms_estimate`. Returns one row ``(out_col decimal(38,0))``.

    This is the cost-based-optimizer primitive at 100 TB: join
    cardinality between two corpora from two KB-sized summaries,
    no scan of either side — e.g. "how many (event, order) pairs will
    the user join explode to" before running it. Inner products stay
    exact in DECIMAL(38,0) (cell counts are exact BIGINTs; a
    product-sum of two 10^12-row inputs needs ~10^24).

    Scale shape: one equi-join of two ≤ width·depth frames + one
    depth-sized aggregate — constant cost in the data size.
    """
    if depth < 1:
        raise ValueError("cms_join_size: depth must be >= 1")
    a = cms_a.select(
        "row_idx", "col_idx", F.col("cnt").alias("__ca")
    )
    b = cms_b.select(
        "row_idx", "col_idx", F.col("cnt").alias("__cb")
    )
    per_row = (
        a.join(b, on=["row_idx", "col_idx"])
        .groupBy("row_idx")
        .agg(
            F.sum(
                # cast BEFORE multiplying: a BIGINT product wraps once
                # cell counts pass ~3e9; the decimal product stays exact
                F.col("__ca").cast("decimal(38,0)") * F.col("__cb")
            ).cast("decimal(38,0)").alias("__ip")
        )
    )
    # a depth row with NO overlapping cells has inner product 0, not
    # "absent" — materialize all rows before the min
    rows = cms_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row_idx")
    )
    return (
        rows.join(per_row, on="row_idx", how="left")
        .agg(
            F.min(
                F.coalesce(
                    F.col("__ip"), F.lit(0).cast("decimal(38,0)")
                )
            ).alias(out_col)
        )
    )


def hll_build(
    df: DataFrame,
    value_col: str,
    *,
    p: int = 9,
    group_col: str | None = None,
) -> DataFrame:
    """HyperLogLog register frame over ``value_col`` (NULLs ignored):
    ``(reg_idx int, rho int)`` — Flajolet et al. 2007, in the engine's
    deterministic idiom. The 60-bit md5 prefix splits into a register
    index (low ``p`` bits, m = 2^p registers) and a (60-p)-bit tail
    whose leading-zero rank is the register's rho; only touched
    registers materialize (absent = rho 0).

    Scale shape: one projection + one groupBy(reg_idx).max — map-side
    partial max, output bounded by m regardless of input (the ~KB
    cardinality summary a 100 TB-corpus profile ships to the driver or
    joins across shards). Shard sketches merge by union + the same
    max groupBy — max is associative/commutative/idempotent, so ANY
    partitioning of the input gives the identical register frame,
    unlike KMV's rank cut this needs no distinct() first.
    ``group_col`` prepends a group key — one sketch per group (the
    "distinct users per domain" shape), m registers each.

    Determinism: registers are pure integer md5 arithmetic
    (leading-zero rank via length(bin(w)) — both engines print binary
    without leading zeros), so the frame AND the estimate are
    bit-identical everywhere. ``p`` in [4, 10] keeps the estimator's
    exact-integer harmonic sum (see :func:`hll_estimate`) inside
    BIGINT.
    """
    if not (4 <= p <= 10):
        raise ValueError("hll_build: p must be in [4, 10]")
    m = 1 << p
    wbits = 60 - p
    grp = [group_col] if group_col is not None else []
    vals = df.select(
        *grp, F.col(value_col).cast("string").alias("__v")
    ).filter(F.col("__v").isNotNull())
    return (
        vals.select(*grp, _pos60("__v", 0).alias("__h"))
        .select(
            *grp,
            (F.col("__h") % m).cast("int").alias("reg_idx"),
            F.expr(f"__h div {m}").alias("__w"),
        )
        .select(
            *grp,
            "reg_idx",
            F.when(F.col("__w") == 0, F.lit(wbits + 1))
            .otherwise(F.lit(wbits) - F.length(F.bin(F.col("__w"))) + 1)
            .cast("int")
            .alias("rho"),
        )
        .groupBy(*grp, "reg_idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame,
    *,
    p: int = 9,
    out_col: str = "est_distinct",
    group_col: str | None = None,
) -> DataFrame:
    """One-row estimate from a :func:`hll_build` register frame with
    the SAME ``p``: ``(n_registers_used, est_distinct)`` — or one row
    per group when the frame was built with ``group_col``.

    est = alpha_m · m² / Σ_j 2^(-rho_j), with never-hit registers at
    rho 0. Engine-exactness: every 2^(-rho) is a dyadic rational, so
    the harmonic sum is computed EXACTLY as Σ 2^(shift - rho) in
    BIGINT (shift = the max rho; bounded by m·2^shift ≤ 2^61 for
    p ≤ 10) and only ONE fixed-order double expression
    (alpha · m² · 2^shift / sum) touches floats — the estimate itself
    hash-matches across engines, retiring the old "unlike HLL" caveat
    on the KMV sketch. This is the RAW estimator (no small-range
    linear-counting correction — that needs ln, which the oracle
    discipline forbids); the calibration query records the observed
    error against the true cardinality instead.
    """
    if not (4 <= p <= 10):
        raise ValueError("hll_estimate: p must be in [4, 10]")
    m = 1 << p
    shift = (60 - p) + 1
    alpha = 0.7213 / (1.0 + 1.079 / m)
    two_shift = 1 << shift
    grp = [group_col] if group_col is not None else []
    aggs = [
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {shift} - rho)")
        ).alias("__s"),
    ]
    agg = registers.groupBy(*grp).agg(*aggs) if grp else registers.agg(*aggs)
    denom = (
        F.coalesce(F.col("__s"), F.lit(0).cast("long"))
        + (F.lit(m).cast("long") - F.col("__n")) * F.lit(two_shift).cast("long")
    ).cast("double")
    return agg.select(
        *grp,
        F.col("__n").alias("n_registers_used"),
        (
            F.lit(alpha) * F.lit(float(m * m)) * F.lit(float(two_shift)) / denom
        ).alias(out_col),
    )


def loghist_build(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Log-histogram sketch of a NON-NEGATIVE integer column: bucket b
    holds values in [2^(b-1), 2^b - 1] (bucket 0 holds exactly 0), so
    at most 64 buckets summarize any BIGINT distribution. The bucket
    index is the value's binary bit length — ``length(bin(x))`` —
    an exact integer on every engine (no floating log, whose boundary
    rounding at exact powers of two is engine-dependent).

    NULL and negative values are dropped (count them upstream if they
    matter). Returns ``(group_col?, bucket int, cnt long)``; sketches
    merge by union + re-sum — the mergeable quantile state for
    streaming/profile use, next to the exact `corpus_quantiles` when a
    full shuffle is affordable.
    """
    v = F.col(value_col).cast("long")
    keys = [group_col] if group_col else []
    bucket = F.when(v == 0, F.lit(0)).otherwise(
        F.length(F.bin(v)).cast("int")
    )
    return (
        df.filter(v.isNotNull() & (v >= 0))
        .select(*keys, bucket.alias("bucket"))
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def loghist_quantiles(
    sketch: DataFrame,
    qs: list[tuple[int, int]],
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Quantile estimates from a :func:`loghist_build` sketch: for each
    quantile q (given as an exact rational ``(num, den)`` — never a
    float, so the rank threshold ``ceil(q·N)`` is integer-exact), the
    first bucket whose cumulative count reaches the threshold, reported
    as its value range [est_lo, est_hi] (relative error bounded by 2×
    by construction). Output: one row per group × quantile —
    ``(group_col?, q_num, q_den, bucket, est_lo, est_hi)``.

    The sketch frame is at most 64 rows per group, so the cumulative
    window and the per-q pick are driver-free but trivially cheap.
    """
    if not qs:
        raise ValueError("loghist_quantiles: qs must be non-empty")
    for num, den in qs:
        if not (0 < num <= den):
            raise ValueError(f"loghist_quantiles: bad quantile {num}/{den}")
    keys = [group_col] if group_col else []
    w_cum = (
        Window.partitionBy(*[F.col(c) for c in keys])
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*[F.col(c) for c in keys])
    cum = sketch.select(
        *keys,
        "bucket",
        F.sum("cnt").over(w_cum).alias("__cum"),
        F.sum("cnt").over(w_tot).alias("__n"),
    )
    # ONE aggregation pass picks every quantile (a union of per-q
    # groupBys would re-plan — and re-run — the cumulative window per
    # quantile), then explode to long format. ceil(num*N/den) via SQL
    # `div` — exact integer division (a double divide + cast misfloors
    # past 2^53; the DuckDB oracle mirrors with `//`).
    aggs = []
    for i, (num, den) in enumerate(qs):
        thr = F.expr(f"(__n * {num} + {den - 1}) div {den}")
        aggs.append(
            F.min(F.when(F.col("__cum") >= thr, F.col("bucket"))).alias(
                f"__b{i}"
            )
        )
    row = cum.groupBy(*keys).agg(*aggs)
    structs = [
        F.struct(
            F.lit(num).alias("q_num"),
            F.lit(den).alias("q_den"),
            F.col(f"__b{i}").alias("bucket"),
        )
        for i, (num, den) in enumerate(qs)
    ]
    out = row.select(
        *keys, F.explode(F.array(*structs)).alias("__q")
    ).select(*keys, "__q.q_num", "__q.q_den", "__q.bucket")
    est_lo = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket - 1)")
    )
    est_hi = F.when(F.col("bucket") <= 0, F.lit(0)).otherwise(
        F.expr("shiftleft(CAST(1 AS BIGINT), bucket) - 1")
    )
    return out.select(
        *keys,
        "q_num",
        "q_den",
        "bucket",
        est_lo.cast("long").alias("est_lo"),
        est_hi.cast("long").alias("est_hi"),
    )


def heavy_hitters_mg(
    df: DataFrame,
    key_col: str,
    item_col: str,
    *,
    capacity: int = 8,
) -> DataFrame:
    """Per-key Misra-Gries heavy-hitter summary — the bounded-memory
    frequent-items sketch (Misra & Gries 1982; the deterministic
    ancestor of SpaceSaving): at most ``capacity`` counters per key,
    each item's reported count understates its true count by at most
    ``n_key / (capacity + 1)``, and every item with true frequency
    above that bound is guaranteed present.

    Batch formulation (round-10 rework): MG summaries are MERGEABLE
    (Agarwal et al., "Mergeable Summaries", PODS 2012) — merging two
    summaries = add counters item-wise, then subtract the
    (capacity+1)-th largest counter from all and drop the non-positive.
    Folding a batch therefore never needs the sequential per-row
    recurrence: treat each exact (key, item) count as a singleton
    summary and apply ONE merge step —

        mg_count(item) = max(0, c_item - c_(capacity+1))

    where ``c_(capacity+1)`` is the (capacity+1)-th largest exact count
    within the key (0 when the key has <= capacity distinct items).
    At most ``capacity`` items have ``c_item > c_(capacity+1)``, and
    since the top capacity+1 counts each >= ``c_(capacity+1)``,
    ``(capacity+1) * c_(capacity+1) <= n_key`` — so the undercount
    ``c_(capacity+1)`` obeys the classic ``n_key/(capacity+1)`` bound
    and every item above the bound survives. Deterministic (pure
    function of the exact counts — no fold order, no partition
    layout), hence SQL-expressible and oracle-checkable.

    Execution shape, 100 TB posture: exact counts via
    ``groupBy(key, item)`` (map-side partial agg; shuffle keyed on the
    HIGH-cardinality (key, item) pair, so parallelism tracks data
    volume, not key cardinality), then a ``row_number() <= capacity+1``
    top-k window per key that Spark rewrites with WindowGroupLimit —
    each map task keeps only capacity+1 rows per key BEFORE the
    exchange, so the per-key window never materializes the full
    distinct-item table. No Python eval nodes anywhere.

    Output: ``(key_col, item, mg_count, n_events)`` — one row per
    surviving counter, ``n_events`` the key's total (for the error
    bound ``n_events/(capacity+1)``). NULL keys are dropped (declared
    and filtered here rather than silently lost through the null-unsafe
    joins below).
    """
    if capacity < 1:
        raise ValueError("heavy_hitters_mg: capacity must be >= 1")
    counts = (
        df.filter(F.col(key_col).isNotNull())
        .select(
            F.col(key_col).cast("string").alias(key_col),
            F.col(item_col).cast("string").alias("item"),
        )
        .groupBy(key_col, "item")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = counts.groupBy(key_col).agg(
        F.sum("__c").alias("n_events")
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("__c").desc(), F.col("item").asc()
    )
    # The rank filter sits directly on the window so Catalyst inserts
    # WindowGroupLimit (partial, pre-shuffle) — top-(capacity+1) per
    # key without sorting the full count table.
    ranked = counts.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= capacity + 1
    )
    thresh = ranked.groupBy(key_col).agg(
        F.coalesce(
            F.max(F.when(F.col("__rn") == capacity + 1, F.col("__c"))),
            F.lit(0).cast("long"),
        ).alias("__ck1")
    )
    return (
        ranked.filter(F.col("__rn") <= capacity)
        .join(thresh, key_col)
        .join(totals, key_col)
        .select(
            key_col,
            "item",
            (F.col("__c") - F.col("__ck1")).cast("long").alias("mg_count"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .filter(F.col("mg_count") > 0)
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    *,
    key_cols: list[str] | None = None,
    n_bands: int = 64,
    counts: DataFrame | None = None,
    boundaries: list | None = None,
) -> DataFrame:
    """Mergeable rank-error quantile summary — the bounded-size
    companion to the exact ``weighted_quantiles``/``corpus_quantiles``
    for the scale where the distinct-value table itself doesn't fit a
    report (KLL/GK territory: Karnin-Lang-Liberty 2016, Greenwald-
    Khanna 2001; same ``epsilon = 1/n_bands`` rank contract).

    Like the round-10 ``heavy_hitters_mg``, the batch construction is a
    DETERMINISTIC one-shot reduction of the exact value histogram, not
    a partition-layout-dependent fold: per key, every distinct value's
    exact count and cumulative count are computed relationally, and the
    summary keeps exactly the rows that complete a rank band of width
    ``n/n_bands`` — at most ``n_bands`` rows per key (a value heavy
    enough to span several bands is kept once and answers those ranks
    exactly). For any rank ``r``, the smallest kept value with
    ``cum_cnt >= r`` over-covers ``r`` by less than ``n/n_bands``:
    a (1/n_bands)-approximate quantile summary that is a pure function
    of the data (hash-checkable by a SQL oracle), with merge provided
    by :func:`quantile_sketch_merge` (weights re-derived, unioned,
    re-banded; rank errors add, the mergeable-summaries composition
    law).

    Scale shape: exact counts via ``groupBy(keys, value)`` (map-side
    combine; shuffle keyed on the high-cardinality pair), one
    cumulative window per key over the DISTINCT-value histogram (keyed
    partitions; for an ungrouped corpus-wide sketch the cumulative
    rides :func:`~.prefix.global_running_sums` — no single-partition
    window either way).

    Output: ``(key..., band, value, cum_cnt, n_rows)`` — ``band`` the
    highest rank band this row completes (1-based, ``<= n_bands``),
    ``cum_cnt`` the exact rank of the row's last occurrence.

    ``counts`` (round 11, guide §2.1 — share the scan): a caller
    building SEVERAL sketches from one source (sharded shards, per-split
    summaries) can pass the exact pre-aggregated histogram
    ``(key..., value_col, __c)`` directly (the caller owns the
    missing-value filter; the result is identical because the sketch is
    a pure function of the histogram). ``df`` is then not scanned, except
    that an ungrouped sketch samples it for range boundaries unless
    ``boundaries`` passes a shared :func:`~.prefix.range_boundaries`
    list — boundary quality steers balance only, never membership, so
    sharing one sample across sketches changes nothing downstream.
    ``boundaries`` with ``key_cols`` is rejected: keyed sketches have no
    range scan.
    """
    if n_bands < 2:
        raise ValueError("quantile_sketch: n_bands must be >= 2")
    if boundaries is not None and key_cols:
        raise ValueError("quantile_sketch: boundaries apply only without key_cols")
    keys = list(key_cols or [])
    val = F.col(value_col)
    # NULL — and for float types NaN — is missing data, not a value:
    # isNotNull() alone would rank NaN as the LARGEST double (Spark sort
    # order) and let it win every high-p probe.
    if counts is None:
        missing = val.isNull()
        if dict(df.dtypes).get(value_col) in ("float", "double"):
            missing = missing | F.isnan(val)
        counts = (
            df.filter(~missing)
            .groupBy(*keys, value_col)
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
    if keys:
        wcum = (
            Window.partitionBy(*keys)
            .orderBy(val.asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wtot = Window.partitionBy(*keys)
        cum = counts.select(
            *keys,
            value_col,
            "__c",
            F.sum("__c").over(wcum).alias("__cum"),
            F.sum("__c").over(wtot).alias("__n"),
        )
    else:
        from .prefix import global_running_sums

        run = global_running_sums(
            counts,
            [value_col],
            {"__cum": "__c"},
            boundary_source=(
                df.select(val.alias(value_col)) if boundaries is None else None
            ),
            boundaries=boundaries,
        )
        tot = run.agg(F.sum("__c").cast("long").alias("__n"))
        cum = run.crossJoin(F.broadcast(tot))
    # Integer DIV keeps the band index exact at any n (a double
    # floor(a*b/c) is provably safe only while 1/c dwarfs the ulp).
    band_hi = F.expr(f"(__cum * {int(n_bands)}) DIV __n")
    band_lo = F.expr(f"((__cum - __c) * {int(n_bands)}) DIV __n")
    return (
        cum.filter(band_hi > band_lo)
        .select(
            *keys,
            band_hi.cast("long").alias("band"),
            F.col(value_col).alias("value"),
            F.col("__cum").cast("long").alias("cum_cnt"),
            F.col("__n").cast("long").alias("n_rows"),
        )
    )


def quantile_sketch_query(
    sketch: DataFrame,
    probs: list[float],
    *,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Answer quantile probes from a :func:`quantile_sketch` summary:
    for each probability ``p`` the estimate is the smallest kept value
    whose ``cum_cnt`` covers rank ``ceil(p * n)`` — rank error below
    ``n / n_bands`` by the sketch contract. Output:
    ``(key..., p, est, est_rank, n_rows)`` with ``est_rank`` the exact
    rank of the estimate's last occurrence (so callers — and tests —
    can audit the error directly)."""
    if not probs:
        raise ValueError("quantile_sketch_query: probs must be non-empty")
    if any(not (0.0 < p <= 1.0) for p in probs):
        raise ValueError(
            "quantile_sketch_query: probs must lie in (0, 1] "
            "(a p > 1 rank would silently drop its group)"
        )
    keys = list(key_cols or [])
    pf = F.explode(
        F.array(*[F.lit(float(p)).cast("double") for p in probs])
    ).alias("p")
    probed = sketch.select(*sketch.columns, pf).withColumn(
        "__r", F.ceil(F.col("p") * F.col("n_rows")).cast("long")
    )
    hit = probed.filter(F.col("cum_cnt") >= F.col("__r"))
    return hit.groupBy(*keys, "p").agg(
        F.min_by("value", "cum_cnt").alias("est"),
        F.min("cum_cnt").cast("long").alias("est_rank"),
        F.max("n_rows").cast("long").alias("n_rows"),
    )


def quantile_sketch_merge(
    a: DataFrame,
    b: DataFrame,
    *,
    key_cols: list[str] | None = None,
    n_bands: int = 64,
) -> DataFrame:
    """Associative merge of two :func:`quantile_sketch` summaries
    (same schema, same keys): re-derive each kept row's mass as the
    cum_cnt step from its predecessor (a window over the <= n_bands-row
    summary — bounded frames), union the weighted values, re-accumulate
    and re-band against ``n = n_a + n_b``. Rank errors ADD under merge
    (Agarwal et al., mergeable summaries): the result answers any rank
    within ``n_a/bands_a + n_b/bands_b + n/n_bands``. Deterministic —
    a pure function of the two summaries.

    Warning hygiene: every window here is bounded by construction
    (summary frames, <= n_bands+1 rows per key), and in the ungrouped
    case the bound is DECLARED in the plan by partitioning on a
    frame-constant column (each input's ``n_rows``; the merged frame's
    one-row total broadcast back) — a bare ``lit(1)`` partition is
    constant-folded away and lands a WindowExec scale warning in every
    bench tail.
    """
    if n_bands < 2:
        raise ValueError("quantile_sketch_merge: n_bands must be >= 2")
    keys = list(key_cols or [])

    def _weights(s: DataFrame) -> DataFrame:
        # n_rows is frame-constant per input sketch (per key), so it
        # declares the partition bound without changing the frames.
        w = Window.partitionBy(*keys, "n_rows").orderBy(
            F.col("value").asc()
        )
        return s.select(
            *keys,
            "value",
            (
                F.col("cum_cnt")
                - F.coalesce(
                    F.lag("cum_cnt", 1).over(w), F.lit(0).cast("long")
                )
            ).alias("__c"),
        )

    both = _weights(a).unionByName(_weights(b))
    merged = both.groupBy(*keys, "value").agg(
        F.sum("__c").cast("long").alias("__c")
    )
    if keys:
        wtot = Window.partitionBy(*keys)
        base = merged.withColumn("__n", F.sum("__c").over(wtot))
    else:
        tot = merged.agg(F.sum("__c").cast("long").alias("__n"))
        base = merged.crossJoin(F.broadcast(tot))
    wcum = (
        Window.partitionBy(*(keys or ["__n"]))
        .orderBy(F.col("value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        *keys,
        "value",
        "__c",
        "__n",
        F.sum("__c").over(wcum).alias("__cum"),
    )
    band_hi = F.expr(f"(__cum * {int(n_bands)}) DIV __n")
    band_lo = F.expr(f"((__cum - __c) * {int(n_bands)}) DIV __n")
    return cum.filter(band_hi > band_lo).select(
        *keys,
        band_hi.cast("long").alias("band"),
        F.col("value").alias("value"),
        F.col("__cum").cast("long").alias("cum_cnt"),
        F.col("__n").cast("long").alias("n_rows"),
    )
