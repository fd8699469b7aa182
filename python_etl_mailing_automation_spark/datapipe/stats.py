"""Corpus composition statistics — the "what is in this training mix"
report a curation pipeline emits before and after every filtering stage.

Scale shape: one groupBy on the domain column with map-side partial
aggregation; all accumulators are exact integers (bigint sums), so the
result is independent of partitioning and execution order — ratios are
derived by integer-over-integer division at the end, never by summing
doubles (float accumulation order would make the report flap between
runs; see the engine's decimal-sum rule in operators/aggregates.py).
The corpus-level totals come from a window over the *aggregated* frame
(one row per domain — a few dozen rows), so the single-partition window
touches O(domains) rows, not O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..detach import detach
from .text import tokens_of


def corpus_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain composition: document count, exact token and char
    sums, mean document length (exact sum / count), and each domain's
    share of corpus documents and tokens.

    Output columns: ``group_col``, ``n_docs``, ``n_tokens``,
    ``n_chars``, ``avg_tokens``, ``share_docs``, ``share_tokens``.
    """
    per_doc = df.select(
        F.col(group_col),
        F.size(tokens_of(text_col)).cast("long").alias("__tok"),
        F.length(text_col).cast("long").alias("__chr"),
    )
    agged = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__tok").alias("n_tokens"),
        F.sum("__chr").alias("n_chars"),
    )
    # Corpus totals as a one-row aggregate + broadcast (the sanctioned
    # one-row idiom) rather than an unpartitioned window — same values,
    # no single-partition WindowExec node in the plan.
    totals = agged.agg(
        F.sum("n_docs").alias("__td"), F.sum("n_tokens").alias("__tt")
    )
    return agged.crossJoin(F.broadcast(totals)).select(
        group_col,
        "n_docs",
        "n_tokens",
        "n_chars",
        (F.col("n_tokens") / F.col("n_docs")).alias("avg_tokens"),
        (F.col("n_docs") / F.col("__td")).alias("share_docs"),
        (F.col("n_tokens") / F.col("__tt")).alias("share_tokens"),
    )


def length_quantiles(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-domain token-length distribution — the data-card companion to
    :func:`corpus_stats`: min/max and EXACT linearly-interpolated
    percentiles of per-document token counts.

    Exact (not ``approx_percentile``) so the report is deterministic and
    engine-reproducible: Spark's ``percentile`` aggregate and DuckDB's
    ``quantile_cont`` both sort the group's values and interpolate at
    rank ``q·(n−1)``, and both compute the interpolation in double —
    identical results on integer inputs.

    Scale shape: ``percentile`` accumulates a value→count map per group,
    so state is O(distinct lengths), not O(rows) — document token counts
    have at most ~10^5 distinct values however large the corpus is. One
    map-side-combined groupBy on the domain key; use
    ``approx_percentile`` instead only if the profiled column is
    continuous (unbounded distinct values).

    Output: ``group_col``, ``n_docs``, ``min_tokens``, ``max_tokens``,
    one ``p<percent>_tokens`` double per requested quantile.
    """
    per_doc = df.select(
        F.col(group_col),
        F.size(tokens_of(text_col)).cast("long").alias("__tok"),
    )
    pct = F.percentile(F.col("__tok"), F.array(*[F.lit(q) for q in quantiles]))
    agged = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("__tok").alias("min_tokens"),
        F.max("__tok").alias("max_tokens"),
        pct.alias("__pct"),
    )
    return agged.select(
        group_col,
        "n_docs",
        "min_tokens",
        "max_tokens",
        *[
            F.col("__pct")[i].alias(f"p{round(q * 100)}_tokens")
            for i, q in enumerate(quantiles)
        ],
    )


def quantile_bucket_assign(
    df: DataFrame,
    value_col: str,
    *,
    n_buckets: int = 4,
    group_col: str | None = None,
    out_col: str = "bucket",
) -> DataFrame:
    """Assign every row its exact-quantile bucket of ``value_col``:
    bucket b means the value exceeds the b lowest of the ``n_buckets-1``
    interior quantile boundaries (linearly interpolated, computed over
    the whole frame, or per ``group_col`` when given). The feeder for
    quality-tiered selection (:func:`~..sampling.budget_select` consumes
    exactly such a bucket column).

    Bucket-by-VALUE-boundary (not ``ntile``'s bucket-by-rank): ties get
    the same bucket deterministically, no global sort exists anywhere,
    and the per-row decision is reproducible from the boundary values
    alone. Rows whose ``value_col`` is NULL get a NULL bucket (they are
    not silently filed with the bottom quartile). Both engines interpolate quantiles identically on integer
    inputs (see :func:`length_quantiles`), and the comparison
    ``value > boundary`` is double-exact, so bucket assignments are
    cross-engine stable.

    Scale shape: one ``percentile`` aggregate whose state is O(distinct
    values) per group (use only on bounded-cardinality columns — doc
    lengths, scores on a grid), broadcast of the one-row-per-group
    boundary frame back, then a scan-level fold over the ≤ n_buckets-1
    boundary literals. The corpus never shuffles.
    """
    if n_buckets < 2:
        raise ValueError("quantile_bucket_assign: n_buckets must be >= 2")
    qs = [i / n_buckets for i in range(1, n_buckets)]
    pct = F.percentile(
        F.col(value_col).cast("double"), F.array(*[F.lit(q) for q in qs])
    ).alias("__bs")
    if group_col is None:
        bounds = F.broadcast(df.agg(pct))
        joined = df.crossJoin(bounds)
    else:
        bounds = F.broadcast(df.groupBy(group_col).agg(pct))
        joined = df.join(bounds, on=group_col)
    bucket = F.aggregate(
        F.col("__bs"),
        F.lit(0),
        lambda acc, b: acc
        + F.when(F.col(value_col).cast("double") > b, 1).otherwise(0),
    )
    # NULL values get a NULL bucket: `NULL > boundary` folds to 0 at
    # every boundary, which would silently file NULLs with the genuine
    # bottom-quartile rows — make the unknown explicit instead.
    bucket = F.when(F.col(value_col).isNotNull(), bucket.cast("int"))
    return joined.withColumn(out_col, bucket).drop("__bs")


def dataset_fingerprint(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """Order-insensitive dataset digest for copy/migration
    verification: one row ``(n_rows long, xor_hash long, sum_hash
    decimal(38,0))`` over per-row md5 hashes. Two copies of a table
    match iff all three agree — one scan, NO sort, no shuffle beyond
    the final combine, and shard digests MERGE (count/sum add, xor
    xors), so a 100 TB copy verifies shard-by-shard without ever
    co-locating the two sides. The xor term catches any single-row
    difference; the sum+count terms catch the xor's blind spot
    (duplicate-pair insertions xor to zero).

    Row hash: 60-bit md5 prefix of the chosen columns rendered to
    strings, NULLs mapped to an explicit sentinel and fields joined
    with an unprintable separator (concat_ws would silently SKIP
    NULLs, making ('a', NULL) collide with (NULL, 'a')). Determinism
    caveat: cross-ENGINE comparison requires engine-identical string
    rendering — pre-format floating-point and timestamp columns
    explicitly (date_format / format_string) before fingerprinting;
    integers, strings, and dates render identically as-is.
    """
    use = cols if cols is not None else df.columns
    if not use:
        raise ValueError("dataset_fingerprint: no columns")
    sent = "\x00NULL\x00"
    rendered = [
        F.coalesce(F.col(c).cast("string"), F.lit(sent)) for c in use
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x01", *rendered)), 1, 15), 16, 10
    ).cast("long")
    return df.select(h.alias("__h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(
            F.bit_xor(F.col("__h")), F.lit(0).cast("long")
        ).alias("xor_hash"),
        F.coalesce(
            F.sum(F.col("__h").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("sum_hash"),
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    k: int = 64,
) -> DataFrame:
    """K-Minimum-Values distinct-count sketch (Bar-Yossef et al. 2002):
    per group, keep the ``k`` smallest md5 hashes of the distinct values;
    the cardinality estimate is ``(k-1) / h_(k)`` with ``h_(k)`` the
    k-th smallest hash normalized to (0, 1]. Groups with fewer than
    ``k`` distinct values report their EXACT count (the sketch holds
    every value).

    Unlike HLL (`approx_count_distinct`), KMV over md5 is fully
    DETERMINISTIC and ENGINE-EXACT — the same data gives the same
    estimate on any engine, platform, or partitioning, so the estimate
    itself is oracle-checkable and diffable across pipeline runs (a
    drifting profile row means the data changed, never the engine).
    The k-hash state is mergeable (union → k smallest), the property
    that makes it a sketch rather than a sample.

    Output: ``(group_col?, n_kept, est_distinct)``.

    Scale shape: distinct on (group, hash) — one shuffle — then a
    per-group top-k via min-ordered row_number window over FIXED-WIDTH
    hash rows (not payloads), bounded by the distinct-value count. The
    60-bit hash prefix parses exactly into BIGINT; its cast to double
    rounds identically on every IEEE engine, which is what keeps the
    estimate cross-engine-exact.
    """
    if k < 2:
        raise ValueError("kmv_distinct: k must be >= 2")
    keys = [group_col] if group_col else []
    hashed = df.select(
        *keys, F.md5(F.col(value_col).cast("string")).alias("__h")
    ).filter(F.col("__h").isNotNull()).distinct()
    w = Window.partitionBy(*[F.col(c) for c in keys]).orderBy("__h")
    topk = hashed.withColumn("__r", F.row_number().over(w)).filter(
        F.col("__r") <= k
    )
    # normalized k-th smallest hash: first 15 hex digits (60 bits —
    # exact in BIGINT; the cast to double is correctly ROUNDED past the
    # 53-bit mantissa, identically on every IEEE engine, which is what
    # parity rests on) over 16^15.
    hval = F.conv(F.substring(F.max_by("__h", "__r"), 1, 15), 16, 10).cast(
        "double"
    ) / F.lit(float(16**15))
    grouped = topk.groupBy(*keys) if keys else topk.groupBy()
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.when(
            F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
        )
        .otherwise(F.lit(float(k - 1)) / hval)
        .alias("est_distinct"),
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    threshold: float = 3.5,
    out_col: str = "is_outlier",
) -> DataFrame:
    """Robust outlier flagging by median absolute deviation (the
    Iglewicz-Hoaglin modified z-score, the standard robust alternative
    to mean/stddev cuts — a handful of giant documents cannot drag the
    cut-off the way they drag a mean): a row is an outlier when

        0.6745 * |value - median| / MAD > threshold

    with MAD = median(|value - median|), computed globally or per
    ``group_col``. Degenerate groups (MAD = 0, i.e. > half the values
    identical) flag nothing — the rule's standard convention.

    Cross-engine exactness: both medians are interpolated ``percentile``
    values (engine-identical on integer/double inputs, see
    :func:`length_quantiles`); the score arithmetic is a fixed sequence
    of IEEE double ops, so the boolean is reproducible anywhere.

    Scale shape: two grouped ``percentile`` aggregates (state O(distinct
    values) each) with the one-row-per-group results broadcast back —
    the corpus is scanned, never shuffled. The second pass re-reads the
    input rather than caching it: a scan is cheaper than materializing
    a 100 TB frame.
    """
    v = F.col(value_col).cast("double")
    med_agg = F.percentile(v, F.lit(0.5)).alias("__med")
    if group_col is None:
        with_med = df.crossJoin(F.broadcast(df.agg(med_agg)))
    else:
        with_med = df.join(
            F.broadcast(df.groupBy(group_col).agg(med_agg)), on=group_col
        )
    dev = F.abs(v - F.col("__med"))
    mad_agg = F.percentile(dev, F.lit(0.5)).alias("__mad")
    if group_col is None:
        scored = with_med.crossJoin(F.broadcast(with_med.agg(mad_agg)))
    else:
        scored = with_med.join(
            F.broadcast(with_med.groupBy(group_col).agg(mad_agg)),
            on=group_col,
        )
    flag = (
        (F.col("__mad") > 0)
        & (F.lit(0.6745) * F.abs(v - F.col("__med")) / F.col("__mad") > threshold)
    )
    return scored.withColumn(out_col, flag).drop("__med", "__mad")


def token_tv_divergence(
    df: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """EXACT total-variation distance between each group's unigram
    distribution and the corpus-wide one — the distribution-shift /
    "which source looks least like the mix" data-card metric. TV is
    used instead of KL because it needs no ``ln`` (cross-engine libm
    hazard) and it is finite when a token is absent from a group.

    Exactness: with per-group counts c_st (group total W_s) and corpus
    counts c_t (total W),

        TV_s = 1/2 · Σ_t |c_st/W_s − c_t/W|

    splits over tokens PRESENT in the group plus the absent mass:
    Σ_absent c_t/W = (W − B_s)/W with B_s = Σ_present c_t. The present
    part's numerators |c_st·W − c_t·W_s| are exact integers summed in
    DECIMAL(38,0) (partition-order-independent, overflow-free), so the
    whole metric reduces to two exact integer sums and a final
    fixed-order double expression — bit-identical on any engine. The
    absent-token term means the |groups|×|vocab| dense grid is NEVER
    materialized: only (group, token) pairs that occur are touched.

    Scale shape: token explode (behind ``spread_for_explode``) → one
    (group, token) count aggregate → a token-keyed join to the corpus
    count table (uniform key, AQE-splittable hot stopwords) → one
    per-group reduction. Output: one row per group:
    ``(group_col, n_tokens, tv_divergence)``.
    """
    from .text import spread_for_explode, tokens_of

    toks = (
        spread_for_explode(df.select(group_col, text_col))
        .select(group_col, F.explode(tokens_of(text_col)).alias("__t"))
    )
    per_group = toks.groupBy(group_col, "__t").agg(
        F.count(F.lit(1)).alias("__cst")
    )
    totals = per_group.groupBy(group_col).agg(
        F.sum("__cst").alias("__ws")
    )
    corpus = per_group.groupBy("__t").agg(F.sum("__cst").alias("__ct"))
    w_total = corpus.agg(F.sum("__ct").alias("__w"))
    joined = (
        per_group.join(corpus, on="__t")
        .join(F.broadcast(totals), on=group_col)
        .crossJoin(F.broadcast(w_total))
    )
    agg = joined.groupBy(group_col).agg(
        F.first("__ws").alias("__ws"),
        F.first("__w").alias("__w"),
        F.sum(
            F.abs(
                F.col("__cst").cast("decimal(38,0)") * F.col("__w")
                - F.col("__ct").cast("decimal(38,0)") * F.col("__ws")
            )
        ).alias("__a"),
        F.sum("__ct").alias("__b"),
    )
    tv = (
        F.col("__a").cast("double")
        / (F.col("__ws").cast("double") * F.col("__w").cast("double"))
        + (F.col("__w") - F.col("__b")).cast("double")
        / F.col("__w").cast("double")
    ) * F.lit(0.5)
    return agg.select(
        group_col,
        F.col("__ws").alias("n_tokens"),
        tv.alias("tv_divergence"),
    )


def value_histogram(
    df: DataFrame,
    value_col: str,
    *,
    n_bins: int = 20,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of ``value_col`` (optionally per group):
    bin i covers [min + i·w, min + (i+1)·w) with w = (max−min)/n_bins,
    the max itself folded into the last bin — the data-card/dashboard
    staple. Output: one row per non-empty bin — ``(group_col?, bin,
    bin_lo, bin_hi, n)``.

    Determinism: bin edges derive from the exact min/max; the per-row
    bin index is ``floor((v−min)/w)`` — each step one IEEE double op,
    identical on any engine; the clamp to n_bins−1 is integer. Empty
    bins are omitted (no dense grid materialization; renderers fill
    zeros — keeping the output sparse is what scales when n_bins is
    large or groups are many).

    Scale shape: one min/max aggregate broadcast back, then one
    (group, bin) count aggregate with map-side partials — two scans, no
    corpus shuffle beyond the tiny count agg.
    """
    if n_bins < 1:
        raise ValueError("value_histogram: n_bins must be >= 1")
    v = F.col(value_col).cast("double")
    mm = [
        F.min(v).alias("__lo"),
        F.max(v).alias("__hi"),
    ]
    if group_col is None:
        based = df.crossJoin(F.broadcast(df.agg(*mm)))
        grp: list[str] = []
    else:
        based = df.join(
            F.broadcast(df.groupBy(group_col).agg(*mm)), on=group_col
        )
        grp = [group_col]
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    raw = F.floor((v - F.col("__lo")) / w).cast("int")
    # degenerate group (min == max): everything lands in bin 0
    bin_ = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(raw, F.lit(n_bins - 1))
    )
    return (
        based.withColumn("bin", bin_)
        .groupBy(*grp, "bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *grp,
            "bin",
            (
                F.col("__lo")
                + F.col("bin").cast("double")
                * ((F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)))
            ).alias("bin_lo"),
            (
                F.col("__lo")
                + (F.col("bin") + F.lit(1)).cast("double")
                * ((F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins)))
            ).alias("bin_hi"),
            "n",
        )
    )


def zscore_normalize(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    out_col: str = "zscore",
) -> DataFrame:
    """Population z-score of an INTEGER-valued column, exactly: the
    mean and variance come from exact integer moments

        var = (n·Σx² − (Σx)²) / n²      mean = Σx / n

    accumulated in DECIMAL(38,0) (partition-order-independent). The
    overflow envelope is n·Σx² < 10^38 — roughly n·x² ≲ 10^37, e.g.
    10^10 rows of x ≈ 10^9, far past any per-group cardinality this
    operator targets but NOT "any petascale count": Spark's non-ANSI
    decimal overflow returns NULL, which would read as the degenerate
    var=0 case, so keep groups inside the envelope. The final step is
    only floating point is the final fixed-order expression
    ``(x − mean)/sqrt(var)`` — sqrt is IEEE-correctly-rounded, giving
    bit-identical scores on any engine. Degenerate groups (var = 0)
    yield NULL scores.

    The feature-normalization step before any distance-based operator
    (k-means, cosine) when features are counts. One tiny moment
    aggregate broadcast back; the corpus never shuffles.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    moments = [
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum(x * x).alias("__s2"),
    ]
    if group_col is None:
        based = df.crossJoin(F.broadcast(df.agg(*moments)))
    else:
        based = df.join(
            F.broadcast(df.groupBy(group_col).agg(*moments)), on=group_col
        )
    n = F.col("__n").cast("double")
    mean = F.col("__s1").cast("double") / n
    var = (
        (
            F.col("__n").cast("decimal(38,0)") * F.col("__s2")
            - F.col("__s1") * F.col("__s1")
        ).cast("double")
        / (n * n)
    )
    z = F.when(
        var > 0,
        (F.col(value_col).cast("double") - mean) / F.sqrt(var),
    )
    return based.withColumn(out_col, z).drop("__n", "__s1", "__s2")


def exact_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Pearson correlation of two INTEGER-valued columns from exact
    integer moments (Σx, Σy, Σx², Σy², Σxy in DECIMAL(38,0)):

        r = (n·Σxy − Σx·Σy) /
            (sqrt(n·Σx² − (Σx)²) · sqrt(n·Σy² − (Σy)²))

    Numerator and both radicands are exact integers (same DECIMAL(38,0)
    overflow envelope as :func:`zscore_normalize` — n·Σxy must stay
    under 10^38; pre-scale or sample beyond it); the division and
    the two correctly-rounded sqrts are the only floating point — the
    result is bit-identical across engines and partitionings, unlike
    ``corr()`` whose streaming co-moment accumulation is
    merge-order-dependent on a real cluster. Zero-variance groups give
    NULL. Output: one row per group — ``(group_col?, n, r)``.
    """
    x = F.col(x_col).cast("decimal(38,0)")
    y = F.col(y_col).cast("decimal(38,0)")
    grp = [] if group_col is None else [group_col]
    agg = df.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    nd = F.col("__n").cast("decimal(38,0)")
    num = (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    vx = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    vy = (nd * F.col("__syy") - F.col("__sy") * F.col("__sy")).cast("double")
    r = F.when((vx > 0) & (vy > 0), num / (F.sqrt(vx) * F.sqrt(vy)))
    return agg.select(
        *grp, F.col("__n").alias("n"), r.alias("r")
    )


def exact_skew_kurt(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Population skewness g1 = m3/m2^1.5 and (non-excess) kurtosis
    g2 = m4/m2² of an INTEGER-valued column from exact raw moments —
    the rest of the distribution family next to
    :func:`zscore_normalize` (mean/var) and :func:`exact_corr`. Central
    moments expand to integer combinations of Σx..Σx⁴:

        n²·m2 = n·Σx² − S1²
        n³·m3 = n²·Σx³ − 3n·S1·Σx² + 2·S1³
        n⁴·m4 = n³·Σx⁴ − 4n²·S1·Σx³ + 6n·S1²·Σx² − 3·S1⁴

    all accumulated/combined in DECIMAL(38,0) (DuckDB mirror: HUGEINT),
    so both engines agree bit-for-bit after the final fixed-order double
    expression. Envelope: the S1⁴ term caps |Σx| at ~3.6·10^9 (n·x̄ per
    group) — far past per-group document-stat cardinalities, but not
    unbounded; Spark's non-ANSI decimal overflow NULLs the result, so
    stay inside it. Zero-variance groups yield NULLs. Output: one row
    per group — ``(group_col?, n, skewness, kurtosis)``.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    grp = [] if group_col is None else [group_col]
    agg = df.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum(x * x).alias("__s2"),
        F.sum(x * x * x).alias("__s3"),
        F.sum(x * x * x * x).alias("__s4"),
    )
    nd = F.col("__n").cast("decimal(38,0)")
    s1, s2, s3, s4 = (F.col(f"__s{i}") for i in (1, 2, 3, 4))
    v2 = nd * s2 - s1 * s1
    v3 = nd * nd * s3 - F.lit(3).cast("decimal(38,0)") * nd * s1 * s2 + F.lit(2).cast("decimal(38,0)") * s1 * s1 * s1
    v4 = (
        nd * nd * nd * s4
        - F.lit(4).cast("decimal(38,0)") * nd * nd * s1 * s3
        + F.lit(6).cast("decimal(38,0)") * nd * s1 * s1 * s2
        - F.lit(3).cast("decimal(38,0)") * s1 * s1 * s1 * s1
    )
    n = F.col("__n").cast("double")
    m2 = v2.cast("double") / (n * n)
    m3 = v3.cast("double") / (n * n * n)
    m4 = v4.cast("double") / (n * n * n * n)
    skew = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    kurt = F.when(m2 > 0, m4 / (m2 * m2))
    return agg.select(
        *grp,
        F.col("__n").alias("n"),
        skew.alias("skewness"),
        kurt.alias("kurtosis"),
    )


def group_ols(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Per-group simple linear regression (OLS) of INTEGER-valued y on
    INTEGER-valued x from the same exact-moment machinery as
    :func:`exact_corr` — the trend-detection member of the
    distribution family (is this source's doc quality drifting over
    time? is spend per day rising?):

        slope     = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
        intercept = (Σy − slope·Σx) / n     (evaluated in doubles,
                                             one fixed op order)

    Numerator and denominator of the slope are exact DECIMAL(38,0)
    integers (DuckDB mirror: HUGEINT), so the only floating point is
    the final two divisions and one multiply — bit-identical across
    engines and partitionings. Zero-x-variance groups yield NULL
    slope/intercept. Same 10^38 overflow envelope as exact_corr:
    pre-scale x (e.g. days, not epoch-seconds) to stay inside it.
    Output: one row per group — ``(group_col?, n, slope, intercept)``.
    """
    x = F.col(x_col).cast("decimal(38,0)")
    y = F.col(y_col).cast("decimal(38,0)")
    grp = [] if group_col is None else [group_col]
    agg = df.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(x * y).alias("__sxy"),
    )
    nd = F.col("__n").cast("decimal(38,0)")
    num = (nd * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast("double")
    den = (nd * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast("double")
    slope = F.when(den > 0, num / den)
    intercept = F.when(
        den > 0,
        (F.col("__sy").cast("double") - slope * F.col("__sx").cast("double"))
        / F.col("__n").cast("double"),
    )
    return agg.select(
        *grp,
        F.col("__n").alias("n"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    )


def zone_maps(
    df: DataFrame,
    shard_col: str,
    cols: list[str],
) -> DataFrame:
    """Per-shard zone maps — min / max / null count for each listed
    column plus the shard row count — the data-skipping index a
    lakehouse keeps per file/row-group, here materialized relationally
    so skipping effectiveness is inspectable and diffable. Pairs with
    ``sampling.assign_shards`` (which shard does a row land in) and
    ``ordering.zorder_key`` (cluster so ranges don't straddle every
    shard): after a Z-order write, a predicate's prunable-shard
    fraction read off this frame IS the scan cost model.

    One map-side-combined groupBy on the shard key; output is
    shards × (2 + 3·|cols|) cells regardless of input size. Output:
    ``(shard_col, n_rows, {col}_min, {col}_max, {col}_nulls, ...)``.
    """
    if not cols:
        raise ValueError("zone_maps: cols must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"{c}_nulls")
        )
    return df.groupBy(shard_col).agg(*aggs)


def kmv_jaccard(
    df_a: DataFrame,
    value_a: str,
    df_b: DataFrame,
    value_b: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Jaccard similarity of two columns' DISTINCT-VALUE SETS estimated
    from their KMV sketches (the set-algebra payoff of
    :func:`kmv_distinct`): build the k smallest md5 hashes of the
    UNION, count how many of those belong to both sides —
    ``J ≈ |K_k(A∪B) ∩ A ∩ B| / k`` (Bar-Yossef et al.; Beyer et al.
    2007). Deterministic md5 makes the estimate itself engine-exact
    and diffable, like every sketch in this engine.

    One row out: ``(k_used, n_both, jaccard_est)``. ``k_used`` is
    min(k, distinct hashes of the union) — below k the estimate is
    EXACT. Use it for corpus-overlap monitoring (yesterday's crawl vs
    today's, source A vs source B) where the exact distinct-join is a
    corpus-sized shuffle but the sketch is k rows per side.

    Scale shape: per side one distinct on md5 values; the union
    sketch is a k-row sort bounded by 2k rows after pre-truncating
    each side to its own k smallest (a side's contribution to the
    union's k smallest can never rank past its own k-th).
    """
    if k < 2:
        raise ValueError("kmv_jaccard: k must be >= 2")

    def side(df: DataFrame, col: str, flag: str) -> DataFrame:
        hashed = (
            df.select(F.md5(F.col(col).cast("string")).alias("__h"))
            .filter(F.col("__h").isNotNull())
            .distinct()
        )
        # orderBy + limit plans as TakeOrderedAndProject — per-partition
        # k-row heaps merged on the driver side of the exchange — where
        # an unpartitioned row_number window would funnel EVERY distinct
        # hash through one task's sort
        return hashed.orderBy("__h").limit(k).select(
            "__h", F.lit(1).alias(flag)
        )

    a = side(df_a, value_a, "__a")
    b = side(df_b, value_b, "__b")
    merged = (
        a.join(b, on="__h", how="full_outer")
        .select(
            "__h",
            F.coalesce(F.col("__a"), F.lit(0)).alias("__a"),
            F.coalesce(F.col("__b"), F.lit(0)).alias("__b"),
        )
    )
    # Bounded by construction: `merged` is the full-outer join of two
    # ≤k-row TakeOrdered sides, so this single-partition window sorts
    # at most 2k sketch rows — never the data. Partitioning by the
    # merge-constant row count (one-row agg + broadcast) executes
    # identically to an unpartitioned spec but declares the bound in
    # the plan, keeping the WindowExec scale warning out of bench tails
    # and reserved for genuinely unbounded frames.
    mc = merged.agg(F.count(F.lit(1)).alias("__mk"))
    w = Window.partitionBy("__mk").orderBy("__h")
    topk = (
        merged.crossJoin(F.broadcast(mc))
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
    )
    return topk.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("n_both"),
        (
            F.sum(F.col("__a") * F.col("__b")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("jaccard_est"),
    )


def winsorize_clip(
    df: DataFrame,
    value_col: str,
    *,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Winsorize ``value_col``: clip to the [p_lo, p_hi] exact
    interpolated percentiles (per group when ``group_col`` is given) —
    the outlier-taming transform feature pipelines apply before
    normalization, as a column transform rather than a row filter (no
    data loss). NULLs stay NULL.

    Exactness/scale: same contract as :func:`quantile_bucket_assign` —
    the percentile state is O(distinct values) per group (use on
    bounded-cardinality columns), boundaries broadcast back as one row
    per group, and the clip is a scan-side ``least/greatest``. Both
    engines interpolate identically on integer-grid inputs.
    """
    if not (0.0 <= p_lo < p_hi <= 1.0):
        raise ValueError("winsorize_clip: need 0 <= p_lo < p_hi <= 1")
    out_col = out_col or value_col
    pct = F.percentile(
        F.col(value_col).cast("double"),
        F.array(F.lit(p_lo), F.lit(p_hi)),
    ).alias("__wb")
    if group_col is None:
        joined = df.crossJoin(F.broadcast(df.agg(pct)))
    else:
        joined = df.join(
            F.broadcast(df.groupBy(group_col).agg(pct)), on=group_col
        )
    clipped = F.least(
        F.greatest(F.col(value_col).cast("double"), F.col("__wb")[0]),
        F.col("__wb")[1],
    )
    return joined.withColumn(
        out_col, F.when(F.col(value_col).isNotNull(), clipped)
    ).drop("__wb")


def impute_missing(
    df: DataFrame,
    value_col: str,
    *,
    strategy: str = "median",
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Fill NULLs in ``value_col`` with the group's ``median`` (exact
    interpolated percentile), ``mean`` (grid-exact: floor(v·2^40)
    summed in DECIMAL(38,0)), or ``mode`` (most frequent value, ties
    to the smallest — deterministic). A group with no non-NULL values
    keeps its NULLs.

    Scale shape: one aggregate to one row per group, broadcast back,
    scan-side coalesce. Mode adds one keyed (group, value) count
    aggregate first — state O(distinct values per group).
    """
    out_col = out_col or value_col
    v = F.col(value_col).cast("double")
    keys = [group_col] if group_col else []
    if strategy == "median":
        fill = F.percentile(v, F.lit(0.5)).alias("__fill")
        agged = (df.groupBy(*keys).agg(fill)) if keys else df.agg(fill)
    elif strategy == "mean":
        g = F.floor(v * F.lit(2.0**40)).cast("decimal(38,0)")
        agged = (df.groupBy(*keys) if keys else df.groupBy()).agg(
            F.sum(g).alias("__s"),
            F.count(v).alias("__n"),
        )
        agged = agged.select(
            *keys,
            F.when(
                F.col("__n") > 0,
                (F.col("__s").cast("double") / F.lit(2.0**40))
                / F.col("__n").cast("double"),
            ).alias("__fill"),
        )
    elif strategy == "mode":
        counts = (
            df.filter(v.isNotNull())
            .groupBy(*keys, v.alias("__v"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        agged = (counts.groupBy(*keys) if keys else counts.groupBy()).agg(
            F.max_by(
                F.col("__v"), F.struct(F.col("__c"), -F.col("__v"))
            ).alias("__fill")
        )
    else:
        raise ValueError(f"impute_missing: unknown strategy {strategy!r}")
    joined = (
        df.join(F.broadcast(agged), on=keys)
        if keys
        else df.crossJoin(F.broadcast(agged))
    )
    return joined.withColumn(
        out_col, F.coalesce(v, F.col("__fill"))
    ).drop("__fill")


def cdf_normalize(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str,
    out_col: str = "cdf",
) -> DataFrame:
    """Rank-based (CDF / percent-rank) feature scaling: map each value
    to its empirical quantile in [0, 1] within its group — the
    outlier-immune alternative to :func:`zscore_normalize` (a z-score
    moves with every tail point; a rank only moves if order changes).
    The house quality-scoring recipe for mixing heterogeneous signals:
    rank-normalize each, then combine.

    Emits the exact integer witnesses ``rnk`` (1-based, ties share the
    smallest rank — SQL RANK()) and ``n_group``, plus ``out_col`` =
    (rnk-1)/(n_group-1) as the ONE double division (0.0 for a
    single-row group). NULL values pass through with NULL rank/cdf
    rather than poisoning the group's ranks.

    Scale shape: one per-group window (single hash exchange + in-key
    sort) and a count over the same window — no join, no second
    shuffle. Ties make the output deterministic regardless of
    partitioning: equal values get equal ranks, so no arbitrary
    tie-break order leaks into the result. ``group_col`` is required: an
    ungrouped rank would be a single-partition global sort that
    serializes the whole table through one task (at corpus scale add a
    coarse grouping column or rank within range buckets).
    """
    v = F.col(value_col)
    # NULLS FIRST pins every NULL at rank 1 (window ordering treats
    # NULLs as equal), so non-NULL ranks are the raw rank minus the
    # group's NULL count — engine-independent, unlike the engines'
    # conflicting ASC defaults (Spark NULLS FIRST, DuckDB NULLS LAST).
    w = Window.partitionBy(group_col).orderBy(v.asc_nulls_first())
    wn = Window.partitionBy(group_col)
    n_nulls = (F.count(F.lit(1)).over(wn) - F.count(v).over(wn)).cast("long")
    rnk = F.when(v.isNotNull(), F.rank().over(w) - n_nulls).cast("long")
    n = F.count(v).over(wn).cast("long")
    cdf = F.when(
        v.isNull(), F.lit(None).cast("double")
    ).when(n == 1, F.lit(0.0)).otherwise(
        (rnk - F.lit(1)).cast("double") / (n - F.lit(1)).cast("double")
    )
    out = df.withColumn("rnk", rnk).withColumn("n_group", n)
    return out.withColumn(out_col, cdf)


def table_profile(
    df: DataFrame,
    columns: list[str],
) -> DataFrame:
    """ANALYZE-style column profile: one output row per requested
    column with the table's row count, the column's null count, exact
    distinct count, and min/max rendered as strings — the CBO-feeding /
    data-discovery pass run before anything else touches an inherited
    table (the profiling sibling of value_histogram and zone_maps).

    Scale shape: ONE aggregate pass over the data computes every
    column's stats (Catalyst plans the multi-count-distinct via one
    Expand — k× row amplification for k columns, the standard exact
    trade; use :func:`~.sketches.hll_build` per column when k×corpus
    is too hot), then the single stats row unpivots driver-free via an
    inline stack. Min/max stringification is the caller's contract:
    pass string/integer/date columns for cross-engine-stable renders
    (float formatting differs between engines — documented, not
    hidden).
    """
    if not columns:
        raise ValueError("table_profile: columns must be non-empty")
    aggs = [F.count(F.lit(1)).cast("long").alias("__n_rows")]
    for c in columns:
        aggs.append(
            (F.count(F.lit(1)) - F.count(F.col(c))).cast("long").alias(f"__nn_{c}")
        )
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"__nd_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__mn_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__mx_{c}"))
    one = df.agg(*aggs)
    stack_parts = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in columns
    )
    return one.select(
        "__n_rows",
        F.expr(
            f"stack({len(columns)}, {stack_parts}) AS "
            "(column_name, n_nulls, n_distinct, min_str, max_str)"
        ),
    ).select(
        "column_name",
        F.col("__n_rows").alias("n_rows"),
        "n_nulls",
        "n_distinct",
        "min_str",
        "max_str",
    )


def benford_profile(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """First-significant-digit (Benford) profile of a positive numeric
    column: observed count and frequency per leading digit 1-9, the
    Benford expectation log10(1+1/d), and the column's chi-square
    statistic against it — the classic screen for fabricated or
    machine-generated numeric fields in a data-quality pass (organic
    heavy-tailed quantities follow Benford; uniform or hand-typed
    numbers don't).

    The leading digit comes from string algebra over the value's
    canonical DECIMAL(38,6) rendering — never floating log10-then-pow,
    whose rounding at decade boundaries differs across engines. The
    decimal grid is also the measurement floor: a positive value below
    5e-7 rounds to 0.000000, yields no digit, and is EXCLUDED (counted
    in ``n_excluded`` alongside non-positives/NULLs — pinned by test);
    values landing exactly on a half-microunit boundary inherit the
    engines' decimal rounding mode, so feed this profiler
    natural-scale quantities (prices, counts, sizes), not
    sub-microunit residuals. Every group emits all nine digit rows, so absent
    digits carry n=0 AND their (0-E·N)²/(E·N) term reaches the
    chi-square — dropping them would understate exactly the most
    suspicious columns. The chi-square is a FIXED-ORDER nine-term
    expression over a pivoted single aggregate (never a float SUM over
    rows, whose accumulation order differs across engines); expected
    frequencies are Python-computed double literals shared with the
    oracle. Groups with no positive values get NULL freq/chi2, not
    0/0 NaN.

    Returns one row per (group,) digit: ``n``, ``freq``, ``expected``,
    group-constant ``chi2``, ``n_total``, ``n_excluded``.

    Scale shape: ONE keyed aggregate (9 conditional counts pivoted
    into the group row, map-side combinable), then a 9-way explode of
    the group-cardinality frame — no joins at all.
    """
    import math as _math

    keys = [group_col] if group_col else []
    v = F.col(value_col)
    digits = F.regexp_replace(
        F.regexp_replace(v.cast("decimal(38,6)").cast("string"), r"[.\-]", ""),
        r"^0+",
        "",
    )
    lead = F.substring(digits, 1, 1).cast("int")
    base = df.select(
        *keys,
        F.when(v.isNotNull() & (v > 0), lead).alias("__digit"),
    )
    exp = {d: float(_math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
    g = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("__n_all"),
        F.count("__digit").cast("long").alias("n_total"),
        *[
            F.sum(F.when(F.col("__digit") == d, 1).otherwise(0))
            .cast("long")
            .alias(f"__n{d}")
            for d in range(1, 10)
        ],
    )
    nt = F.col("n_total").cast("double")

    def term(d: int):
        obs = F.col(f"__n{d}").cast("double")
        en = F.lit(exp[d]) * nt
        return (obs - en) * (obs - en) / en

    chi2 = F.when(
        F.col("n_total") > 0,
        term(1) + term(2) + term(3) + term(4) + term(5)
        + term(6) + term(7) + term(8) + term(9),
    )
    wide = g.select(
        *keys,
        "n_total",
        (F.col("__n_all") - F.col("n_total")).alias("n_excluded"),
        chi2.alias("chi2"),
        *[F.col(f"__n{d}") for d in range(1, 10)],
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"),
    )
    n_of = None
    e_of = None
    for d in range(1, 10):
        n_of = (
            F.when(F.col("digit") == d, F.col(f"__n{d}"))
            if n_of is None
            else n_of.when(F.col("digit") == d, F.col(f"__n{d}"))
        )
        e_of = (
            F.when(F.col("digit") == d, F.lit(exp[d]))
            if e_of is None
            else e_of.when(F.col("digit") == d, F.lit(exp[d]))
        )
    return wide.select(
        *keys,
        "digit",
        n_of.cast("long").alias("n"),
        F.when(F.col("n_total") > 0, n_of.cast("double") / nt).alias("freq"),
        e_of.alias("expected"),
        "chi2",
        "n_total",
        "n_excluded",
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: list[tuple[int, int]],
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Exact weighted lower quantiles per group: the smallest value v
    whose cumulative weight reaches q·W — weighted median latency
    (weight = request count), median price weighted by quantity,
    token-budget percentiles (weight = doc tokens). The unweighted
    quantile family treats every row equally; production distributions
    rarely do.

    Quantiles are INTEGER RATIONALS (num, den): the reach test is the
    cross-multiplied ``cum·den >= num·W`` in BIGINT — no float
    fraction-of-total, no engine-specific rounding at exactly-on-
    boundary weights (the classic off-by-one in weighted-median
    implementations). Weights must be non-negative integers (cast
    enforced); zero-weight rows can never BE a quantile but never
    block one either, and a group whose total weight is zero emits NO
    quantile rows at all (its distribution is empty). Ties collapse
    per distinct value BEFORE the cumulative sum, so the result is
    partition-order independent.

    Returns one row per (group,) quantile: ``q_num``, ``q_den``,
    ``q`` (double, display only), ``value``, ``cum_weight``,
    ``total_weight``.

    Scale shape: one (group, value) aggregate, one per-group window
    over the DISTINCT-value frame (cardinality = distinct values, not
    rows), a literal-array explode for the quantile spine, and a final
    min-by aggregate — one key exchange plus one distinct-value
    exchange, no self-joins.
    """
    if not qs:
        raise ValueError("weighted_quantiles: qs must be non-empty")
    for num, den in qs:
        if not (0 < num <= den):
            raise ValueError(f"weighted_quantiles: bad quantile {num}/{den}")
    keys = [group_col] if group_col else []
    w = F.col(weight_col).cast("long")
    base = df.filter(
        F.col(value_col).isNotNull() & w.isNotNull() & (w >= 0)
    )
    per_value = base.groupBy(*keys, value_col).agg(
        F.sum(w).cast("long").alias("__w")
    )
    win = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    cum = per_value.select(
        *keys,
        F.col(value_col).alias("__v"),
        F.sum("__w")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("__cum"),
        F.sum("__w")
        .over(Window.partitionBy(*keys))
        .cast("long")
        .alias("__tot"),
    )
    spine = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(num).cast("long").alias("q_num"),
                    F.lit(den).cast("long").alias("q_den"),
                )
                for num, den in qs
            ]
        )
    ).alias("__q")
    hit = (
        cum.select(*keys, "__v", "__cum", "__tot", spine)
        .select(
            *keys,
            "__v",
            "__cum",
            "__tot",
            F.col("__q.q_num").alias("q_num"),
            F.col("__q.q_den").alias("q_den"),
        )
        # A group whose kept weights are ALL zero has __tot = 0, which
        # would satisfy cum·den >= num·0 at every row and emit the
        # group's minimum as every quantile with cum_weight 0 — the
        # documented contract is the opposite (zero-weight rows can
        # never BE a quantile), so zero-total groups emit nothing.
        .filter(
            (F.col("__tot") > 0)
            & (F.col("__cum") * F.col("q_den") >= F.col("q_num") * F.col("__tot"))
        )
    )
    return (
        hit.groupBy(*keys, "q_num", "q_den")
        .agg(
            F.min("__v").alias("value"),
            F.min("__cum").cast("long").alias("cum_weight"),
            F.min("__tot").cast("long").alias("total_weight"),
        )
        .select(
            *keys,
            "q_num",
            "q_den",
            (F.col("q_num").cast("double") / F.col("q_den").cast("double")).alias(
                "q"
            ),
            "value",
            "cum_weight",
            "total_weight",
        )
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str | None = None,
    order_cols: list[str] | None = None,
    grid_bits: int = 20,
) -> DataFrame:
    """Gini coefficient of a non-negative value per group — the
    concentration/inequality profile (spend concentration per segment,
    token-count inequality across documents, traffic share per tenant)
    behind "do 1% of the keys carry 90% of the volume", the question
    that decides salting and quota design before any skew shows up in
    a stage graph.

    Uses the rank-weighted closed form G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) −
    (n+1)/n over values sorted ascending. Ranks are ``row_number``
    with a deterministic (value, order_cols) ordering — the documented
    tie contract (ties share a value, so ANY consistent order gives
    the same Σ i·x; the tiebreak exists for engine determinism, not
    semantics). Values land on the floor(v·2^grid_bits) grid and both
    Σ accumulate in DECIMAL(38,0) (i·x per-term headroom past int64 at
    deep scale), then ONE fixed-sequence double expression. Negative
    and NULL values are excluded and witnessed in ``n_excluded``;
    all-zero groups get NULL gini (the statistic is undefined), never
    0/0.

    Returns per group: ``gini``, ``n``, ``total`` (grid-exact sum as
    double / 2^grid_bits), ``n_excluded``.

    Scale shape: one hash exchange carrying the per-group sort (the
    per-entity window note applies), then a map-side-combinable keyed
    aggregate. No joins.
    """
    keys = [group_col] if group_col else []
    tiebreak = order_cols or []
    g = float(2**grid_bits)
    v = F.col(value_col)
    base = df.select(
        *keys,
        v.alias("__v"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(tiebreak)],
    )
    kept = base.filter(F.col("__v").isNotNull() & (F.col("__v") >= 0))
    w = Window.partitionBy(*keys).orderBy(
        F.col("__v").asc(),
        *[F.col(f"__o{i}").asc() for i in range(len(tiebreak))],
    )
    xg = F.floor(F.col("__v").cast("double") * F.lit(g)).cast("decimal(38,0)")
    ranked = kept.select(
        *keys,
        xg.alias("__xg"),
        F.row_number().over(w).cast("long").alias("__i"),
    )
    excl = base.groupBy(*keys).agg(
        (
            F.count(F.lit(1)) - F.count(F.when(F.col("__v") >= 0, 1))
        ).cast("long").alias("n_excluded")
    )
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__xg").cast("decimal(38,0)").alias("__sx"),
        F.sum(F.col("__i").cast("decimal(38,0)") * F.col("__xg"))
        .cast("decimal(38,0)")
        .alias("__six"),
    )
    nd = F.col("n").cast("double")
    gini = F.when(
        F.col("__sx") > 0,
        (F.lit(2.0) * F.col("__six").cast("double"))
        / (nd * F.col("__sx").cast("double"))
        - (nd + F.lit(1.0)) / nd,
    )
    joined = agg.join(excl, keys) if keys else agg.crossJoin(excl)
    return joined.select(
        *keys,
        gini.alias("gini"),
        "n",
        (F.col("__sx").cast("double") / F.lit(g)).alias("total"),
        "n_excluded",
    )


def ols_multi2(
    df: DataFrame,
    x1_col: str,
    x2_col: str,
    y_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Per-group TWO-regressor least squares (y ~ b0 + b1·x1 + b2·x2)
    by Cramer's rule over exact integer normal equations — the
    multivariate member of the :func:`group_ols` family.

    All six Gram entries (n, Σx1, Σx2, Σx1², Σx1x2, Σx2²) and the three
    response moments (Σy, Σx1y, Σx2y) are exact DECIMAL(38,0) sums of
    INTEGER-valued inputs; the four 3×3 determinants expand to sums of
    triple products of those moments (still decimal-exact inside the
    10^38 envelope — triple products tighten it to ~10^12 per moment;
    pre-scale as with :func:`exact_corr`), and the only floating point
    is the three final divisions — bit-identical across engines and
    partitionings. Groups with a singular Gram matrix (collinear or
    degenerate regressors) yield NULL coefficients.

    Output: one row per group — ``(group_col?, n, intercept, b1, b2)``.
    Scale shape: ONE map-side-combinable aggregate; everything after is
    per-group scalar algebra.
    """
    x1 = F.col(x1_col).cast("decimal(38,0)")
    x2 = F.col(x2_col).cast("decimal(38,0)")
    y = F.col(y_col).cast("decimal(38,0)")
    grp = [] if group_col is None else [group_col]
    agg = df.groupBy(*grp).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(x1).alias("__s1"),
        F.sum(x2).alias("__s2"),
        F.sum(x1 * x1).alias("__s11"),
        F.sum(x1 * x2).alias("__s12"),
        F.sum(x2 * x2).alias("__s22"),
        F.sum(y).alias("__sy"),
        F.sum(x1 * y).alias("__s1y"),
        F.sum(x2 * y).alias("__s2y"),
    )
    nd = F.col("__n").cast("decimal(38,0)")

    def det3(a, b, c, d, e, f_, g, h, i):
        # | a b c ; d e f ; g h i | — decimal-exact triple products.
        return (
            a * (e * i - f_ * h) - b * (d * i - f_ * g) + c * (d * h - e * g)
        )

    s1, s2 = F.col("__s1"), F.col("__s2")
    s11, s12, s22 = F.col("__s11"), F.col("__s12"), F.col("__s22")
    sy, s1y, s2y = F.col("__sy"), F.col("__s1y"), F.col("__s2y")
    det = det3(nd, s1, s2, s1, s11, s12, s2, s12, s22).cast("double")
    det0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22).cast("double")
    det1 = det3(nd, sy, s2, s1, s1y, s12, s2, s2y, s22).cast("double")
    det2 = det3(nd, s1, sy, s1, s11, s1y, s2, s12, s2y).cast("double")
    nz = det != 0
    return agg.select(
        *grp,
        F.col("__n").cast("long").alias("n"),
        F.when(nz, det0 / det).alias("intercept"),
        F.when(nz, det1 / det).alias("b1"),
        F.when(nz, det2 / det).alias("b2"),
    )


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    *,
    grid_bits: int = 30,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the feature/label dependence screen a curation pipeline
    runs before trusting a heuristic signal (is ``source`` informative
    about ``lang``? is the quality flag independent of origin?).

    chi2 = Σ_cells (o·n − r·c)² / (n·r·c) over the contingency table,
    where o is the cell count and r, c the marginals — all exact
    integers from two keyed aggregates. Cross-engine determinism: each
    cell's contribution is floored onto a ``2^grid_bits`` integer grid
    ((o·n − r·c) is decimal-exact, squared in doubles, divided once),
    and the CELL SUM is an integer sum — associative, so partitioning
    and merge order can never wiggle the statistic (the
    :func:`~.lm.lm_quality_score` discipline). The grid quantization
    (~1e-9 relative at 30 bits) is documented behavior, not noise.

    Output: one row — ``(n, n_rows, n_cols, dof, chi2)``.
    Scale shape: one (a,b) aggregate, two broadcast-sized marginal
    aggregates joined back on their keys, one integer sum. The cell
    table is |distinct a| × |distinct b| — bounded by construction for
    categorical inputs.
    """
    cells = df.groupBy(a_col, b_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__o")
    )
    ra = cells.groupBy(a_col).agg(F.sum("__o").alias("__r"))
    cb = cells.groupBy(b_col).agg(F.sum("__o").alias("__c"))
    tot = cells.agg(
        F.sum("__o").alias("__t"),
        F.count_distinct(F.col(a_col)).cast("long").alias("__nr"),
        F.count_distinct(F.col(b_col)).cast("long").alias("__nc"),
    )
    g = F.lit(1 << grid_bits).cast("decimal(38,0)")
    joined = (
        cells.join(F.broadcast(ra), on=a_col)
        .join(F.broadcast(cb), on=b_col)
        .crossJoin(F.broadcast(tot))
    )
    dev = (F.col("__o") * F.col("__t") - F.col("__r") * F.col("__c")).cast(
        "double"
    )
    den = (F.col("__t") * F.col("__r") * F.col("__c")).cast("double")
    cell_grid = F.floor(
        dev * dev / den * (1 << grid_bits)
    ).cast("decimal(38,0)")
    out = joined.groupBy("__t", "__nr", "__nc").agg(
        F.sum(cell_grid).alias("__sum")
    )
    return out.select(
        F.col("__t").cast("long").alias("n"),
        F.col("__nr").alias("n_rows"),
        F.col("__nc").alias("n_cols"),
        ((F.col("__nr") - 1) * (F.col("__nc") - 1)).cast("long").alias("dof"),
        (F.col("__sum").cast("double") / F.lit(float(1 << grid_bits))).alias(
            "chi2"
        ),
    )


def anova_f(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    grid_bits: int = 20,
) -> DataFrame:
    """One-way ANOVA F statistic of an INTEGER-valued column across
    groups — does the value's mean differ by group (doc quality by
    source, spend by segment)?

    Between/within sums of squares from exact integer moments:
    ``T = Σ_g floor(S_g²·2^grid_bits / n_g)`` (exact decimal
    floor-division — DuckDB's ``//`` on HUGEINT mirrors it on
    positive operands), ``SSW·2^b = Sxx·2^b − T`` and
    ``SSB·2^b = T − floor(S²·2^b / n)`` stay integers until the one
    final double division, so the statistic is partition-invariant by
    construction. Envelope: S_g²·2^b < 10^38 ⇒ per-group sums below
    ~1e16 at 20 bits — pre-scale values (counts, not micros) or sample
    beyond it, as across the exact-moment family.

    Output: one row — ``(k, n, ssb, ssw, f)``; F is NULL when
    degenerate (k < 2, n <= k, or zero within-variance).
    Scale shape: one keyed aggregate to per-group (n_g, S_g), whose
    result is a group-cardinality frame; one global fold over it.
    """
    v = F.col(value_col).cast("decimal(38,0)")
    g = F.lit(1 << grid_bits).cast("decimal(38,0)")
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__ng"),
        F.sum(v).alias("__sg"),
        F.sum(v * v).alias("__sxx"),
    )

    def fdiv(a, b):
        # Exact floor division of non-negative decimals: a//b.
        return ((a - a % b) / b).cast("decimal(38,0)")

    t_g = fdiv(F.col("__sg") * F.col("__sg") * g, F.col("__ng"))
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("__k"),
        F.sum("__ng").alias("__n"),
        F.sum("__sg").alias("__s"),
        F.sum("__sxx").alias("__xx"),
        F.sum(t_g).alias("__t"),
    )
    ssw_g = (F.col("__xx") * g - F.col("__t")).cast("double")
    ssb_g = (F.col("__t") - fdiv(F.col("__s") * F.col("__s") * g, F.col("__n"))).cast(
        "double"
    )
    kd = F.col("__k").cast("double")
    ndd = F.col("__n").cast("double")
    ok = (F.col("__k") >= 2) & (F.col("__n").cast("long") > F.col("__k")) & (
        ssw_g > 0
    )
    gf = F.lit(float(1 << grid_bits))
    return tot.select(
        F.col("__k").alias("k"),
        F.col("__n").cast("long").alias("n"),
        (ssb_g / gf).alias("ssb"),
        (ssw_g / gf).alias("ssw"),
        F.when(
            ok, (ssb_g / (kd - 1.0)) / (ssw_g / (ndd - kd))
        ).alias("f"),
    )


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic, EXACTLY — the
    distribution-drift test a pipeline runs between corpus versions or
    between a sample and its source (did the value distribution of
    group_a differ from group_b?).

    D = max_v |F_a(v) − F_b(v)| is computed as an exact integer
    maximum: per distinct value the two cumulative counts (via the
    bucketed two-level prefix of :mod:`~.prefix` — no unpartitioned
    window), then ``max |cum_a·n_b − cum_b·n_a|`` in DECIMAL(38,0);
    the single double division by ``n_a·n_b`` happens once at the end,
    so the statistic is bit-identical across engines and partitionings.

    Output: one row — ``(n_a, n_b, d_num, d)`` with
    ``d = d_num / (n_a·n_b)``; NULL d when either sample is empty.
    Scale shape: one keyed aggregate on the value (map-side combined),
    a bounded boundary sample, one partitioned prefix window, one max.
    """
    from .prefix import global_running_sums

    flag_a = (F.col(group_col) == F.lit(group_a)).cast("long")
    flag_b = (F.col(group_col) == F.lit(group_b)).cast("long")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(F.col(value_col).alias("__v"), flag_a.alias("__a"), flag_b.alias("__b"))
    per_v = base.groupBy("__v").agg(
        F.sum("__a").alias("__ca"), F.sum("__b").alias("__cb")
    )
    run = global_running_sums(
        per_v,
        ["__v"],
        {"__cuma": "__ca", "__cumb": "__cb"},
        boundary_source=base.select(F.col("__v")),
    )
    tot = per_v.agg(
        F.sum("__ca").cast("decimal(38,0)").alias("__na"),
        F.sum("__cb").cast("decimal(38,0)").alias("__nb"),
    )
    dev = F.abs(
        F.col("__cuma").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cumb").cast("decimal(38,0)") * F.col("__na")
    )
    out = run.crossJoin(F.broadcast(tot)).groupBy("__na", "__nb").agg(
        F.max(dev).alias("__dnum")
    )
    return out.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.col("__dnum").cast("long").alias("d_num"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.col("__dnum").cast("double")
            / (F.col("__na") * F.col("__nb")).cast("double"),
        ).alias("d"),
    )


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) statistic with
    midrank tie handling, EXACTLY — the rank-based drift test (robust
    to outliers where :func:`ks_two_sample` tracks the whole CDF).

    Ranks never materialize per row: per distinct value the midrank is
    ``cum_before + (cnt+1)/2``, so the DOUBLED rank sum
    ``2·R_a = Σ_v c_a(v) · (2·cum_before(v) + cnt(v) + 1)`` is an exact
    integer from the same bucketed prefix as the KS statistic, and
    ``2·U_a = 2·R_a − n_a(n_a+1)`` stays integer. The normal-
    approximation z-score (with the standard tie correction) is
    computed from exact integer moments with one fixed-order double
    expression at the end.

    Output: one row — ``(n_a, n_b, u2_a, u_a, z)``: ``u2_a`` the exact
    doubled statistic (long), ``u_a`` its double half, ``z`` NULL when
    a sample is empty or the tie-corrected variance is zero.
    Scale shape: identical to :func:`ks_two_sample` — one value
    aggregate, one bounded prefix, one fold.
    """
    from .prefix import global_running_sums

    flag_a = (F.col(group_col) == F.lit(group_a)).cast("long")
    flag_b = (F.col(group_col) == F.lit(group_b)).cast("long")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(F.col(value_col).alias("__v"), flag_a.alias("__a"), flag_b.alias("__b"))
    per_v = base.groupBy("__v").agg(
        F.sum("__a").alias("__ca"), F.sum("__b").alias("__cb")
    ).withColumn("__ct", F.col("__ca") + F.col("__cb"))
    run = global_running_sums(
        per_v,
        ["__v"],
        {"__cumt": "__ct"},
        boundary_source=base.select(F.col("__v")),
    )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # cum BEFORE this value = inclusive cum − own count.
    r2 = 2 * (d(F.col("__cumt")) - d(F.col("__ct"))) + d(F.col("__ct")) + 1
    agg = run.agg(
        F.sum(d(F.col("__ca"))).alias("__na"),
        F.sum(d(F.col("__cb"))).alias("__nb"),
        F.sum(d(F.col("__ca")) * r2).alias("__2ra"),
        # Tie correction term: Σ t³ − t over tied groups (t = __ct).
        F.sum(
            d(F.col("__ct")) * d(F.col("__ct")) * d(F.col("__ct"))
            - d(F.col("__ct"))
        ).alias("__ties"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    n = na + nb
    u2 = (F.col("__2ra") - na * (na + 1)).cast("decimal(38,0)")
    mean2 = (na * nb).cast("double")  # 2·E[U] = n_a·n_b
    # Var[U] = n_a·n_b/12 · ((n+1) − ties/(n(n−1))); z from the doubled
    # statistic: z = (2U − n_a·n_b) / (2·sqrt(Var)).
    var = (
        (na * nb).cast("double") / 12.0
        * (
            (n + 1).cast("double")
            - F.col("__ties").cast("double")
            / (n * (n - 1)).cast("double")
        )
    )
    ok = (na > 0) & (nb > 0) & (var > 0)
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        u2.cast("long").alias("u2_a"),
        (u2.cast("double") / 2.0).alias("u_a"),
        F.when(ok, (u2.cast("double") - mean2) / (2.0 * F.sqrt(var))).alias(
            "z"
        ),
    )


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    n_sample: int = 64,
) -> DataFrame:
    """Theil-Sen robust trend estimate: the median pairwise slope over
    a deterministic content-addressed sample — the outlier-immune
    sibling of :func:`group_ols` (one corrupted batch of rows moves an
    OLS slope arbitrarily; the median slope needs >50% corruption).

    The classic estimator is all-pairs O(n²); the distributed form
    subsamples: the ``n_sample`` rows with the smallest
    ``md5(x|y)`` (a pure function of the data — same rows on any
    cluster, any partitioning; duplicates of an (x,y) pair are
    interchangeable so tie order cannot change the multiset), then all
    pairs of THAT sample (bounded: n_sample² rows), slope per pair as
    ONE exact-integer-to-double division, median by sorted-array index
    on the bounded slope list. Intercept = median of ``y − slope·x``
    over the sample, same discipline. Even-count medians average the
    two central elements (one fixed-order add + halve).

    Output: one row — ``(n_used, n_pairs, slope, intercept)``; NULL
    slope when every sampled x is identical.
    Scale shape: one distributed top-k (TakeOrderedAndProject — never a
    global sort) + algebra on a bounded frame.
    """
    xi = F.col(x_col).cast("decimal(38,0)")
    yi = F.col(y_col).cast("decimal(38,0)")
    sample = (
        df.select(
            xi.alias("__x"),
            yi.alias("__y"),
            F.md5(
                F.concat_ws("|", xi.cast("string"), yi.cast("string"))
            ).alias("__h"),
        )
        .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .orderBy("__h", "__x", "__y")
        .limit(n_sample)
    )
    a = sample.select(
        F.col("__x").alias("__xa"), F.col("__y").alias("__ya"),
        F.col("__h").alias("__ha"),
    )
    b = sample.select(
        F.col("__x").alias("__xb"), F.col("__y").alias("__yb"),
        F.col("__h").alias("__hb"),
    )
    pairs = a.join(
        b,
        (F.col("__ha") < F.col("__hb"))
        | (
            (F.col("__ha") == F.col("__hb"))
            & (
                (F.col("__xa") < F.col("__xb"))
                | ((F.col("__xa") == F.col("__xb")) & (F.col("__ya") < F.col("__yb")))
            )
        ),
    ).filter(F.col("__xa") != F.col("__xb"))
    slopes = pairs.select(
        (
            (F.col("__yb") - F.col("__ya")).cast("double")
            / (F.col("__xb") - F.col("__xa")).cast("double")
        ).alias("__s")
    )

    def med(arr):
        # Explicit floor on both indices: Spark's int cast truncates but
        # DuckDB's rounds — floor() is the formulation both agree on.
        m = F.size(arr)
        lo = F.element_at(arr, F.floor((m + 1) / 2).cast("int"))
        hi = F.element_at(arr, F.floor(m / 2 + 1).cast("int"))
        return F.when(m > 0, (lo + hi) / 2.0)

    srow = slopes.agg(
        F.sort_array(F.collect_list("__s")).alias("__arr"),
        F.count(F.lit(1)).alias("n_pairs"),
    ).select("n_pairs", med(F.col("__arr")).alias("slope"))
    resid = sample.crossJoin(F.broadcast(srow)).select(
        "n_pairs",
        "slope",
        (
            F.col("__y").cast("double")
            - F.col("slope") * F.col("__x").cast("double")
        ).alias("__r"),
    )
    out = resid.groupBy("n_pairs", "slope").agg(
        F.count(F.lit(1)).alias("n_used"),
        F.sort_array(F.collect_list("__r")).alias("__rs"),
    )
    return out.select(
        F.col("n_used").cast("long").alias("n_used"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        "slope",
        med(F.col("__rs")).alias("intercept"),
    )


# Poisson(1) inverse-CDF thresholds on the 2^60 grid: t_k =
# floor(CDF(k) * 2^60), computed once at 50-digit precision. The
# bootstrap weight is the count of thresholds <= u for a 60-bit
# md5-uniform u (clamped at 8; the clamped tail mass is ~1e-5 of the
# range and is part of the operator's contract, not an approximation
# the caller can hit by accident). IDENTICAL literals on the oracle
# side — cross-engine parity never depends on either engine's exp().
_POISSON1_T60 = [
    424136118829305329,
    848272237658610659,
    1060340297073263324,
    1131029650211480879,
    1148701988496035267,
    1152236456152946145,
    1152825534095764625,
    1152909688087595836,
]


def bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    *,
    n_boot: int = 64,
    q_lo_num: int = 25,
    q_hi_num: int = 975,
    q_den: int = 1000,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean of an
    INTEGER-valued column — the resampling scheme that works in one
    distributed pass (each row draws an independent Poisson(1) weight
    per replica, so no replica ever needs the global row count up
    front; the standard trick for bootstrap-at-scale).

    Determinism: replica weights come from a 60-bit md5 of
    ``(id, replica)`` against fixed integer thresholds
    (``_POISSON1_T60``) — a pure function of the data, identical in
    the oracle. Replica means are exact-integer ratios (Σwx, Σw in
    DECIMAL(38,0)) divided once; the CI bounds are order statistics of
    the bounded replica-mean list at nearest-rank index
    ``floor(q·(B_used−1))+1`` (no interpolation — documented
    contract). Replicas whose total weight is 0 are dropped (possible
    only for tiny inputs; ``n_boot_used`` reports it).

    Output: one row — ``(n_rows, n_boot_used, mean, ci_lo, ci_hi)``.
    Scale shape: explode over replica PAIRS (``×n_boot/2`` row
    amplification): an md5 is 128 bits and a Poisson draw needs 60, so
    each exploded row computes ONE md5 that serves two replicas (even
    replica = hex chars 1-15, odd = chars 17-31 — replica 0's
    derivation is unchanged from the single-draw scheme, which the
    pure-Python replay test pins). Salted partials then one row per
    pair, reshaped to per-replica on the bounded frame. Halving the
    hashes and the exploded rows measured 12.7 s → 8.3 s at sf0.1;
    the in-aggregate and per-row-array alternatives were measured
    worse (see the body comment). ``n_boot`` ≤ 512 by contract.
    """
    if not (1 <= int(n_boot) <= 512):
        raise ValueError("bootstrap_ci: n_boot must be in [1, 512]")
    v = F.col(value_col).cast("decimal(38,0)")
    base = df.select(
        F.col(id_col).cast("string").alias("__id"), v.alias("__v")
    ).filter(F.col("__id").isNotNull() & F.col("__v").isNotNull())

    def draw(pair: int, odd: bool):
        h = F.md5(
            F.concat_ws("|", F.col("__id"), F.lit(str(pair)), F.lit("boot"))
        )
        return F.conv(
            F.substring(h, 17 if odd else 1, 15), 16, 10
        ).cast("long")

    def weight(u):
        w = None
        for t in _POISSON1_T60:
            term = (u >= F.lit(t)).cast("long")
            w = term if w is None else w + term
        return w.cast("decimal(38,0)")

    # Explode over replica PAIRS, not replicas: each exploded row
    # computes ONE md5 and serves two replicas (even draw = hex chars
    # 1-15, odd draw = chars 17-31) as two weight columns in the same
    # post-explode projection — Project-level codegen CSE evaluates
    # the shared hash once. (Two rejected shapes, both measured at
    # sf0.1: hashes inside 2·B aggregate expressions defeat CSE across
    # aggregate buffers — 17-27 s; a posexplode'd per-row weight array
    # drops out of whole-stage codegen entirely — 172 s. This pair
    # explode: ~6 s vs 12.7 s for the one-md5-per-replica explode.)
    n_pairs = (int(n_boot) + 1) // 2
    reps = base.select(
        "__id",
        "__v",
        F.explode(F.sequence(F.lit(0), F.lit(n_pairs - 1))).alias("__p"),
    )
    h = F.md5(
        F.concat_ws(
            "|", F.col("__id"), F.col("__p").cast("string"), F.lit("boot")
        )
    )

    def weight_of(start: int):
        u = F.conv(F.substring(h, start, 15), 16, 10).cast("long")
        w = None
        for t in _POISSON1_T60:
            term = (u >= F.lit(t)).cast("long")
            w = term if w is None else w + term
        return w.cast("decimal(38,0)")

    we, wo = weight_of(1), weight_of(17)
    weighted = reps.select(
        "__p",
        F.pmod(F.xxhash64("__id"), F.lit(32)).alias("__salt"),
        (we * F.col("__v")).alias("__wve"),
        we.alias("__we"),
        (wo * F.col("__v")).alias("__wvo"),
        wo.alias("__wo"),
        F.col("__v"),
    )
    partial = weighted.groupBy("__p", "__salt").agg(
        F.sum("__wve").alias("__pwve"),
        F.sum("__we").alias("__pwe"),
        F.sum("__wvo").alias("__pwvo"),
        F.sum("__wo").alias("__pwo"),
        F.count(F.lit(1)).alias("__pn"),
        F.sum("__v").alias("__pv"),
    )
    per_pair = partial.groupBy("__p").agg(
        F.sum("__pwve").alias("__swve"),
        F.sum("__pwe").alias("__swe"),
        F.sum("__pwvo").alias("__swvo"),
        F.sum("__pwo").alias("__swo"),
        F.sum("__pn").alias("__n"),
        F.sum("__pv").alias("__sv"),
    )
    even = per_pair.select(
        (F.col("__p") * 2).alias("__b"),
        F.col("__swve").alias("__swv"),
        F.col("__swe").alias("__sw"),
        "__n",
        "__sv",
    )
    odd = per_pair.select(
        (F.col("__p") * 2 + 1).alias("__b"),
        F.col("__swvo").alias("__swv"),
        F.col("__swo").alias("__sw"),
        "__n",
        "__sv",
    )
    per_rep = even.unionByName(odd).filter(F.col("__b") < int(n_boot))
    packed = per_rep.agg(
        F.max(F.when(F.col("__b") == 0, F.col("__n")))
        .cast("long")
        .alias("n_rows"),
        F.max(F.when(F.col("__b") == 0, F.col("__sv"))).alias("__sv"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("__sw") > 0,
                    F.col("__swv").cast("double")
                    / F.col("__sw").cast("double"),
                )
            )
        ).alias("__ms"),
        F.sum((F.col("__sw") > 0).cast("long")).alias("n_boot_used"),
    )

    def at_q(arr, used, num, den):
        idx = F.floor(
            (used - 1).cast("double") * F.lit(num) / F.lit(den)
        ).cast("int") + 1
        return F.element_at(arr, idx)

    return packed.select(
        # Empty-input degenerate: the per-replica frame is empty, so the
        # outer aggregates are NULL — report 0s, as the pre-rework
        # count() did.
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.col("n_boot_used"), F.lit(0))
        .cast("long")
        .alias("n_boot_used"),
        F.when(
            F.col("n_rows") > 0,
            F.col("__sv").cast("double") / F.col("n_rows").cast("double"),
        ).alias("mean"),
        F.when(
            F.col("n_boot_used") > 0,
            at_q(F.col("__ms"), F.col("n_boot_used"), q_lo_num, q_den),
        ).alias("ci_lo"),
        F.when(
            F.col("n_boot_used") > 0,
            at_q(F.col("__ms"), F.col("n_boot_used"), q_hi_num, q_den),
        ).alias("ci_hi"),
    )


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation with midrank ties, EXACTLY — the
    monotone-association screen (robust to any monotone transform,
    where :func:`exact_corr` measures only linear association).

    Ranks never materialize through a global sort: per distinct value
    the DOUBLED midrank ``2·r(v) = 2·cum_before(v) + cnt(v) + 1`` is an
    exact integer off the bucketed two-level prefix (the
    :func:`mann_whitney_u` construction, applied to each column), and
    Spearman's rho is Pearson on ranks — scale-invariant, so the
    doubled ranks feed :func:`exact_corr`'s exact DECIMAL(38,0) moment
    formula unchanged: one division and two correctly-rounded sqrts at
    the end, bit-identical across engines and partitionings.

    Output: one row — ``(n, rho)``; NULL rho when either column is
    constant. Envelope: n·Σ(2r)² ~ 4n³ must stay under 10^38 ⇒
    n below ~3e11 rows; sample beyond it (as across the exact-moment
    family).
    Scale shape: two per-value aggregates + bounded prefixes + two
    equi-join-backs on the value, one exact moment aggregate.
    """
    from .prefix import global_running_sums

    base = df.select(
        F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())

    def doubled_ranks(col: str, out: str) -> DataFrame:
        per_v = base.groupBy(col).agg(F.count(F.lit(1)).alias("__c"))
        run = global_running_sums(
            per_v,
            [col],
            {"__cum": "__c"},
            boundary_source=base.select(F.col(col)),
        )
        return run.select(
            col,
            (
                2 * (F.col("__cum") - F.col("__c")) + F.col("__c") + 1
            ).cast("decimal(38,0)").alias(out),
        )

    rx = doubled_ranks("__x", "__u")
    ry = doubled_ranks("__y", "__v")
    ranked = base.join(rx, on="__x").join(ry, on="__y")
    u, v = F.col("__u"), F.col("__v")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(u).alias("__su"),
        F.sum(v).alias("__sv"),
        F.sum(u * u).alias("__suu"),
        F.sum(v * v).alias("__svv"),
        F.sum(u * v).alias("__suv"),
    )
    nd = F.col("__n").cast("decimal(38,0)")
    num = (nd * F.col("__suv") - F.col("__su") * F.col("__sv")).cast("double")
    vu = (nd * F.col("__suu") - F.col("__su") * F.col("__su")).cast("double")
    vv = (nd * F.col("__svv") - F.col("__sv") * F.col("__sv")).cast("double")
    rho = F.when((vu > 0) & (vv > 0), num / (F.sqrt(vu) * F.sqrt(vv)))
    return agg.select(
        F.col("__n").cast("long").alias("n"), rho.alias("rho")
    )


def roc_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Exact tie-aware ROC AUC of a score against a {0,1} label — the
    classifier-evaluation member of the rank-statistic family
    (:func:`mann_whitney_u` is the same U statistic as a drift test;
    AUC is its normalized form: P(score_pos > score_neg) + ½·P(=)).

        2·R_pos = Σ_v c_pos(v) · (2·cum_before(v) + cnt(v) + 1)
        2·U     = 2·R_pos − n_pos·(n_pos + 1)
        AUC     = 2·U / (2·n_pos·n_neg)

    Ranks never materialize per row: per DISTINCT score value the
    doubled midrank is an exact integer off a cumulative count, so the
    whole statistic is DECIMAL(38,0)-exact and the only floating point
    is the single final division — bit-identical across engines and
    partitionings. Groups with no positives or no negatives yield NULL.

    Output: one row per group — ``(group_col?, n_pos, n_neg, auc)``.

    Scale shape: one (group, value) aggregate with map-side combine,
    then ONE window partitioned by ``group_col`` over the per-value
    frame (bounded by a group's distinct scores); the ungrouped path
    rides :func:`~.prefix.global_running_sums` instead, so no
    unpartitioned window ever enters the plan.
    """
    from .prefix import global_running_sums

    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        *([F.col(group_col)] if group_col else []),
        F.col(score_col).alias("__v"),
        (F.col(label_col) != 0).cast("long").alias("__p"),
        (F.col(label_col) == 0).cast("long").alias("__q"),
    )
    grp = [group_col] if group_col else []
    per_v = base.groupBy(*grp, "__v").agg(
        F.sum("__p").alias("__cp"), F.sum("__q").alias("__cq")
    ).withColumn("__ct", F.col("__cp") + F.col("__cq"))
    if group_col:
        ww = (
            Window.partitionBy(group_col)
            .orderBy(F.col("__v").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        run = per_v.withColumn("__cumt", F.sum("__ct").over(ww))
    else:
        run = global_running_sums(
            per_v,
            ["__v"],
            {"__cumt": "__ct"},
            boundary_source=base.select(F.col("__v")),
        )
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    r2 = 2 * (d(F.col("__cumt")) - d(F.col("__ct"))) + d(F.col("__ct")) + 1
    agg = run.groupBy(*grp).agg(
        F.sum(d(F.col("__cp"))).alias("__np"),
        F.sum(d(F.col("__cq"))).alias("__nq"),
        F.sum(d(F.col("__cp")) * r2).alias("__2rp"),
    )
    np_, nq = F.col("__np"), F.col("__nq")
    u2 = (F.col("__2rp") - np_ * (np_ + 1)).cast("decimal(38,0)")
    ok = (np_ > 0) & (nq > 0)
    auc = F.when(
        ok, u2.cast("double") / (2.0 * (np_ * nq).cast("double"))
    )
    return agg.select(
        *grp,
        np_.cast("long").alias("n_pos"),
        nq.cast("long").alias("n_neg"),
        auc.alias("auc"),
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample 1-D Wasserstein-1 (earth mover) distance, EXACTLY —
    the *integral* drift measure next to :func:`ks_two_sample`'s max
    gap (KS flags the worst single point of divergence; W1 prices the
    total transport work, so a fat distribution shift that never
    concentrates at one value still registers).

        W1 = ∫ |F_a − F_b| dx
           = Σ_{consecutive distinct v} |cum_a(v)·n_b − cum_b(v)·n_a|
             · (next(v) − v)  /  (n_a·n_b)

    ``value_col`` must be INTEGER-valued (pre-scale to cents etc. —
    the same grid discipline as :func:`exact_corr`): every per-segment
    term is then an exact DECIMAL(38,0) product, the sum is
    order-independent, and the single final division is the only
    floating point. Output units are the value grid's units.

    Output: one row — ``(n_a, n_b, w1_num, w1)`` with ``w1 = w1_num /
    (n_a·n_b)``; NULL when either sample is empty.

    Scale shape: one keyed value aggregate, the bucketed two-level
    prefix for the cumulative counts, and the bucketed
    :func:`~.prefix.global_next_value` lead for the segment widths —
    no unpartitioned window anywhere in the plan.
    """
    from .prefix import global_next_value, global_running_sums

    flag_a = (F.col(group_col) == F.lit(group_a)).cast("long")
    flag_b = (F.col(group_col) == F.lit(group_b)).cast("long")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).cast("long").alias("__v"),
        flag_a.alias("__a"),
        flag_b.alias("__b"),
    )
    per_v = base.groupBy("__v").agg(
        F.sum("__a").alias("__ca"), F.sum("__b").alias("__cb")
    )
    run = global_running_sums(
        per_v,
        ["__v"],
        {"__cuma": "__ca", "__cumb": "__cb"},
        boundary_source=base.select(F.col("__v")),
    )
    led = global_next_value(
        run, "__v", "__nextv", boundary_source=base.select(F.col("__v"))
    )
    tot = per_v.agg(
        F.sum("__ca").cast("decimal(38,0)").alias("__na"),
        F.sum("__cb").cast("decimal(38,0)").alias("__nb"),
    )
    dev = F.abs(
        F.col("__cuma").cast("decimal(38,0)") * F.col("__nb")
        - F.col("__cumb").cast("decimal(38,0)") * F.col("__na")
    )
    seg = F.when(
        F.col("__nextv").isNotNull(),
        dev
        * (
            F.col("__nextv").cast("decimal(38,0)")
            - F.col("__v").cast("decimal(38,0)")
        ),
    )
    out = led.crossJoin(F.broadcast(tot)).groupBy("__na", "__nb").agg(
        F.sum(seg).alias("__w1n")
    )
    return out.select(
        F.col("__na").cast("long").alias("n_a"),
        F.col("__nb").cast("long").alias("n_b"),
        F.coalesce(F.col("__w1n"), F.lit(0).cast("decimal(38,0)"))
        .cast("long")
        .alias("w1_num"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.coalesce(F.col("__w1n"), F.lit(0).cast("decimal(38,0)")).cast(
                "double"
            )
            / (F.col("__na") * F.col("__nb")).cast("double"),
        ).alias("w1"),
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t statistic with the
    Satterthwaite degrees of freedom — the parametric mean-shift test
    next to the rank-based :func:`mann_whitney_u` (MW asks "did the
    distribution shift", Welch asks "did the MEAN shift, variances be
    damned"), from exact integer moments:

        s²_g = (n_g·Σx² − (Σx)²) / (n_g·(n_g − 1))       [exact radix]
        t    = (x̄_a − x̄_b) / sqrt(s²_a/n_a + s²_b/n_b)
        df   = (s²_a/n_a + s²_b/n_b)² /
               ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1))

    ``value_col`` must be INTEGER-valued (the :func:`exact_corr` grid
    discipline). Counts and raw moments are DECIMAL(38,0)-exact; the
    means, variance ratios, t and df are ONE fixed written-order
    double expression — bit-identical across engines and
    partitionings (the oracle spells the identical expression tree).
    NULL t/df when either sample has n < 2 or both variances are zero.

    Output: one row — ``(n_a, n_b, mean_a, mean_b, t, df)``.
    Scale shape: one filtered map-side-combinable aggregate. No
    shuffle beyond the single global agg, no window, no join.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    fa = (F.col(group_col) == F.lit(group_a)).cast("int")
    fb = (F.col(group_col) == F.lit(group_b)).cast("int")
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(x.alias("__x"), fa.alias("__a"), fb.alias("__b"))
    agg = base.agg(
        F.sum(F.col("__a").cast("decimal(38,0)")).alias("__na"),
        F.sum(F.col("__b").cast("decimal(38,0)")).alias("__nb"),
        F.sum(F.when(F.col("__a") == 1, F.col("__x"))).alias("__sa"),
        F.sum(F.when(F.col("__b") == 1, F.col("__x"))).alias("__sb"),
        F.sum(F.when(F.col("__a") == 1, F.col("__x") * F.col("__x"))).alias(
            "__saa"
        ),
        F.sum(F.when(F.col("__b") == 1, F.col("__x") * F.col("__x"))).alias(
            "__sbb"
        ),
    )
    na, nb = F.col("__na"), F.col("__nb")
    # Exact integer radicands: n·Σx² − (Σx)².
    va_num = (na * F.col("__saa") - F.col("__sa") * F.col("__sa")).cast(
        "double"
    )
    vb_num = (nb * F.col("__sbb") - F.col("__sb") * F.col("__sb")).cast(
        "double"
    )
    nad, nbd = na.cast("double"), nb.cast("double")
    # s²/n terms, one fixed op order each.
    ra = va_num / (nad * (nad - 1.0) * nad)
    rb = vb_num / (nbd * (nbd - 1.0) * nbd)
    mean_a = F.col("__sa").cast("double") / nad
    mean_b = F.col("__sb").cast("double") / nbd
    ok = (na > 1) & (nb > 1) & (ra + rb > 0)
    t = (mean_a - mean_b) / F.sqrt(ra + rb)
    dof = (
        (ra + rb)
        * (ra + rb)
        / (ra * ra / (nad - 1.0) + rb * rb / (nbd - 1.0))
    )
    return agg.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.when(na > 0, mean_a).alias("mean_a"),
        F.when(nb > 0, mean_b).alias("mean_b"),
        F.when(ok, t).alias("t"),
        F.when(ok, dof).alias("df"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    *,
    treat_val,
    control_val,
    pre_val,
    post_val,
) -> DataFrame:
    """Difference-in-differences contrast of an INTEGER-valued outcome:

        DiD = (x̄_treat,post − x̄_treat,pre) − (x̄_ctrl,post − x̄_ctrl,pre)

    — the before/after causal read-out a pipeline runs on a rollout
    (did the new curation rule move quality for the treated source
    beyond the secular trend the control source shows?). The four cell
    sums and counts are exact DECIMAL(38,0); each mean is one IEEE
    division and DiD one fixed written-order expression — bit-identical
    across engines and partitionings (the same discipline as
    :func:`welch_t`; this is its 2×2 factorial sibling).

    Output: one row — ``(n_tpre, n_tpost, n_cpre, n_cpost, mean_tpre,
    mean_tpost, mean_cpre, mean_cpost, did)``; ``did`` NULL when any
    cell is empty.
    Scale shape: ONE filtered map-side-combinable aggregate with eight
    accumulators. No shuffle beyond the single global agg.
    """
    x = F.col(value_col).cast("decimal(38,0)")
    base = df.filter(
        F.col(group_col).isin([treat_val, control_val])
        & F.col(period_col).isin([pre_val, post_val])
        & F.col(value_col).isNotNull()
    ).select(
        x.alias("__x"),
        (F.col(group_col) == F.lit(treat_val)).alias("__t"),
        (F.col(period_col) == F.lit(post_val)).alias("__p"),
    )

    def cell(t: bool, p: bool, out: str):
        cond = (F.col("__t") == t) & (F.col("__p") == p)
        return [
            F.sum(cond.cast("decimal(38,0)")).alias(f"__n{out}"),
            F.sum(F.when(cond, F.col("__x"))).alias(f"__s{out}"),
        ]

    agg = base.agg(
        *cell(True, False, "tpre"),
        *cell(True, True, "tpost"),
        *cell(False, False, "cpre"),
        *cell(False, True, "cpost"),
    )
    means = {}
    for c in ("tpre", "tpost", "cpre", "cpost"):
        means[c] = F.when(
            F.col(f"__n{c}") > 0,
            F.col(f"__s{c}").cast("double")
            / F.col(f"__n{c}").cast("double"),
        )
    did = (means["tpost"] - means["tpre"]) - (
        means["cpost"] - means["cpre"]
    )
    return agg.select(
        *[F.coalesce(F.col(f"__n{c}"), F.lit(0)).cast("long").alias(f"n_{c}") for c in ("tpre", "tpost", "cpre", "cpost")],
        *[means[c].alias(f"mean_{c}") for c in ("tpre", "tpost", "cpre", "cpost")],
        did.alias("did"),
    )


def encoding_advisor(
    df: DataFrame,
    cols: list[str],
) -> DataFrame:
    """Columnar-encoding advisor: per column, the exact size facts a
    warehouse needs to pick dictionary encoding — the planning sibling
    of :func:`table_profile` (that profiles VALUES; this prices their
    STORAGE):

        raw_bytes       = Σ octet_length(value)          (NULLs cost 0)
        ndv             = exact distinct count (non-NULL)
        dict_value_bytes= Σ octet_length over DISTINCT values
        code_bits       = bits to index the dictionary
                        = length(bin(max(ndv − 1, 1)))
        est_dict_bytes  = dict_value_bytes + ⌈n·code_bits / 8⌉
        dict_ratio      = est_dict_bytes / raw_bytes     (one division)
        recommend_dict  = est_dict_bytes < raw_bytes

    ``code_bits`` is computed as the LENGTH OF THE BINARY STRING of
    ``ndv − 1`` — an exact integer both engines produce identically
    (never a float log2). All byte counts are exact BIGINTs; the ratio
    is the only float. This is an ESTIMATOR by contract (real formats
    add run-length, page headers, compression) — but an exact,
    reproducible one, so regressions in it are real data changes.

    Output: one row per column — ``(column, n, n_nulls, ndv,
    raw_bytes, dict_value_bytes, code_bits, est_dict_bytes,
    dict_ratio, recommend_dict)``.

    Scale shape: per column one distinct-grain aggregate (map-side
    combined) + one total aggregate, unioned across the bounded column
    list. No window, no join, no count-distinct expand — ndv rides the
    distinct frame that dictionary sizing needs anyway.
    """
    if not cols:
        raise ValueError("encoding_advisor: need >= 1 column")
    outs = []
    for c in cols:
        s = F.col(c).cast("string")
        base = df.select(s.alias("__v"))
        per_v = base.filter(F.col("__v").isNotNull()).groupBy("__v").agg(
            F.count(F.lit(1)).cast("long").alias("__cnt")
        )
        dstats = per_v.agg(
            F.count(F.lit(1)).cast("long").alias("ndv"),
            F.sum(F.octet_length("__v")).cast("long").alias(
                "dict_value_bytes"
            ),
            F.sum(
                F.octet_length("__v").cast("long") * F.col("__cnt")
            ).cast("long").alias("raw_bytes"),
            F.sum("__cnt").cast("long").alias("__n_vals"),
        )
        tot = base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("__v").isNull().cast("long")).cast("long").alias(
                "n_nulls"
            ),
        )
        code_bits = F.length(
            F.bin(F.greatest(F.col("ndv") - 1, F.lit(1)))
        ).cast("long")
        est = F.col("dict_value_bytes") + F.floor(
            (F.col("__n_vals") * code_bits + 7) / 8
        ).cast("long")
        outs.append(
            dstats.crossJoin(F.broadcast(tot)).select(
                F.lit(c).alias("column"),
                "n",
                F.coalesce(F.col("n_nulls"), F.lit(0)).alias("n_nulls"),
                "ndv",
                F.coalesce(F.col("raw_bytes"), F.lit(0)).alias("raw_bytes"),
                F.coalesce(F.col("dict_value_bytes"), F.lit(0)).alias(
                    "dict_value_bytes"
                ),
                code_bits.alias("code_bits"),
                est.alias("est_dict_bytes"),
                F.when(
                    F.col("raw_bytes") > 0,
                    est.cast("double") / F.col("raw_bytes").cast("double"),
                ).alias("dict_ratio"),
                F.when(F.col("raw_bytes") > 0, (est < F.col("raw_bytes")))
                .cast("int")
                .alias("recommend_dict"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def quantile_match(
    df: DataFrame,
    group_col: str,
    value_col: str,
    source_val,
    target_val,
) -> DataFrame:
    """Quantile normalization: map every distinct SOURCE-group value
    onto the TARGET group's empirical distribution — the
    distribution-matching transform (calibrate scores produced by two
    scorers, align a new corpus's feature scale to the reference
    corpus) next to :func:`cdf_normalize` (that maps to [0,1]; this
    maps onto another sample):

        idx(v)  = ⌊(rank(v) − 1) · (n_T − 1) / (n_S − 1)⌋ + 1
        mapped(v) = T's idx(v)-th smallest value   (nearest-rank,
                    no interpolation — documented contract)

    ``rank(v)`` is the 1-based rank of v's FIRST occurrence in the
    sorted source sample (cumulative count up to and including v,
    minus its own count, plus 1). The index arithmetic is pure integer
    (floor division of exact BIGINTs); single-row sources (n_S = 1)
    map to the target minimum. No floats anywhere — the mapping is a
    pure function of the two samples.

    Output: one row per distinct source value — ``(value, n, rank,
    target_idx, mapped)``.

    Scale shape: both sides ride the bucketed two-level prefix
    (:func:`~.prefix.global_running_sums`) — source for ranks, target
    for order statistics — then ONE equi-join on the integer index.
    No unpartitioned window, no data-sized sort.
    """
    from .prefix import global_running_sums

    base = df.filter(
        F.col(group_col).isin([source_val, target_val])
        & F.col(value_col).isNotNull()
    ).select(
        F.col(value_col).alias("__v"),
        (F.col(group_col) == F.lit(source_val)).cast("long").alias("__s"),
        (F.col(group_col) == F.lit(target_val)).cast("long").alias("__t"),
    )
    from .prefix import range_boundaries

    # Boundaries only steer balance, so ONE sample over the combined
    # value stream serves both sides (round-10: two sample jobs ->
    # one). The per-side aggregates stay plan-attached: each side's two
    # branches (bucket totals + final join) share the aggregate subtree
    # via exchange reuse, which a localCheckpoint detach would break.
    src_v = base.filter(F.col("__s") == 1).groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    tgt_v = base.filter(F.col("__t") == 1).groupBy("__v").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    shared_bounds = range_boundaries(base.select("__v"), "__v")
    src_run = global_running_sums(
        src_v,
        ["__v"],
        {"__cum": "__c"},
        boundaries=shared_bounds,
    )
    tgt_run = global_running_sums(
        tgt_v,
        ["__v"],
        {"__cum": "__c"},
        boundaries=shared_bounds,
    )
    totals = base.agg(
        F.sum("__s").cast("long").alias("__ns"),
        F.sum("__t").cast("long").alias("__nt"),
    )
    # ``src`` feeds both the request stream and the final join — detach
    # it once or the whole source prefix pipeline re-executes per
    # consumer (measured as a 45-exchange plan before; ~20 after).
    src = detach(src_run.crossJoin(F.broadcast(totals)).select(
        F.col("__v").alias("value"),
        F.col("__c").alias("n"),
        (F.col("__cum") - F.col("__c") + 1).alias("rank"),
        (
            F.when(
                F.col("__ns") > 1,
                F.floor(
                    (F.col("__cum") - F.col("__c"))
                    * (F.col("__nt") - 1)
                    / (F.col("__ns") - 1)
                ),
            ).otherwise(F.lit(0))
            + 1
        ).cast("long").alias("target_idx"),
    ), eager=True)
    # Target order statistic k lives on the distinct row whose
    # cumulative range [cum − c + 1, cum] contains k. A direct range
    # join of requests against intervals would be a data-sized BNLJ —
    # instead, the union-merge trick: union the offers (key = interval
    # start) with the requests (key = target_idx, sorted AFTER offers
    # on ties), take a bucketed running COUNT of offers, and the
    # request's count IS the 1-based index of its matching offer — one
    # equi-join finishes the lookup. Two prefix passes + one hash
    # join; nothing quadratic, no unpartitioned window.
    offers = tgt_run.select(
        (F.col("__cum") - F.col("__c") + 1).alias("__k"),
        F.lit(0).alias("__rq"),
        F.lit(1).cast("long").alias("__is_off"),
        F.col("__v").alias("__mv"),
        F.lit(None).cast("long").alias("__ti"),
    )
    requests = src.select(
        F.col("target_idx").alias("__k"),
        F.lit(1).alias("__rq"),
        F.lit(0).cast("long").alias("__is_off"),
        F.lit(None).cast(offers.schema["__mv"].dataType).alias("__mv"),
        F.col("target_idx").alias("__ti"),
    )
    merged = global_running_sums(
        offers.unionByName(requests),
        ["__k", "__rq"],
        {"__ocnt": "__is_off"},
    )
    off_idx = merged.filter(F.col("__rq") == 0).select(
        F.col("__ocnt").alias("__j"), F.col("__mv").alias("mapped")
    )
    req_idx = merged.filter(F.col("__rq") == 1).select(
        F.col("__ti").alias("target_idx"), F.col("__ocnt").alias("__j")
    ).distinct()
    lookup = req_idx.join(off_idx, "__j", "left").select(
        "target_idx", "mapped"
    )
    return src.join(lookup, "target_idx", "left").select(
        "value", "n", "rank", "target_idx", "mapped"
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    *,
    alpha: tuple[int, int] = (1, 10),
    group_col: str | None = None,
) -> DataFrame:
    """Split-conformal calibration threshold (Vovk et al. 2005; Angelopoulos
    & Bates 2023 tutorial): given held-out nonconformity scores, the
    quantile q̂ such that predicting {y : score(y) ≤ q̂} guarantees
    ≥ 1−α marginal coverage is the

        k-th smallest score,  k = ⌈(n+1)·(1−α)⌉

    ``alpha`` arrives as an exact rational ``(num, den)`` so the rank is
    pure integer arithmetic — ``k = ((n+1)·(den−num) + den − 1) div den``
    — never a float quantile whose rounding could flip the order
    statistic across engines. The threshold itself is an ORDER STATISTIC
    (a value from the data, not an interpolation), so the whole output
    is engine-exact with zero floating point. ``k > n`` (α too small for
    the sample: α < 1/(n+1)) yields a NULL threshold — finite-sample
    coverage at that level is impossible, and the NULL says so rather
    than silently clamping to the max.

    Output: one row per group — ``(group_col?, n, k_index, threshold)``.

    Scale shape: one (group, value) aggregate with map-side combine,
    then ONE window partitioned by ``group_col`` over the per-value
    frame (bounded by a group's distinct scores) — the :func:`roc_auc`
    discipline; the ungrouped path rides
    :func:`~.prefix.global_running_sums` so no unpartitioned window
    ever enters the plan. The k-th value is the MIN value whose
    cumulative count reaches k (cumulative count is monotone in the
    value order), one filtered re-aggregate.
    """
    from .prefix import global_running_sums

    num, den = int(alpha[0]), int(alpha[1])
    if not (0 < num < den):
        raise ValueError("conformal_threshold: need 0 < alpha < 1 as (num, den)")
    grp = [group_col] if group_col else []
    base = df.filter(F.col(score_col).isNotNull()).select(
        *grp, F.col(score_col).alias("__v")
    )
    per_v = base.groupBy(*grp, "__v").agg(
        F.count(F.lit(1)).cast("long").alias("__ct")
    )
    if group_col:
        ww = (
            Window.partitionBy(group_col)
            .orderBy(F.col("__v").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        run = per_v.withColumn("__cum", F.sum("__ct").over(ww))
    else:
        run = global_running_sums(
            per_v,
            ["__v"],
            {"__cum": "__ct"},
            boundary_source=base.select(F.col("__v")),
        )
    keep = den - num
    k_expr = F.expr(f"((__n + 1) * {keep} + {den} - 1) div {den}")
    totals = per_v.groupBy(*grp).agg(
        F.coalesce(F.sum("__ct"), F.lit(0).cast("long")).alias("__n")
    ).select(*grp, "__n", k_expr.alias("__k"))
    joined = (
        run.join(totals, grp)
        if grp
        else run.crossJoin(F.broadcast(totals))
    )
    hit = joined.filter(F.col("__cum") >= F.col("__k")).groupBy(*grp).agg(
        F.min("__v").alias("threshold")
    )
    out = (
        totals.join(hit, grp, "left")
        if grp
        else totals.crossJoin(F.broadcast(hit))
    )
    return out.select(
        *grp,
        F.col("__n").cast("long").alias("n"),
        F.col("__k").cast("long").alias("k_index"),
        "threshold",
    )


def pr_curve(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Exact precision-recall curve — one row per DISTINCT score
    threshold with the cumulative confusion counts of the classifier
    "predict positive when score ≥ threshold", the table behind
    average-precision and threshold tuning (which cut gives 90%
    precision?). The curve-as-rows form keeps every value a single
    division of exact BIGINTs — no cross-threshold float summation, so
    the whole frame is bit-identical across engines and partitionings
    (a scalar AP would need an order-dependent Σ of per-threshold
    products; the table is both more useful and exactly reproducible).

    Output per (group?, threshold): ``(group_col?, threshold, tp, fp,
    precision, recall)`` — tp/fp cumulative from the highest score
    down; recall NULL when the group has no positives.

    Scale shape: one (group, score) aggregate with map-side combine,
    then ONE window partitioned by ``group_col`` over the per-score
    frame (bounded by a group's distinct scores — the :func:`roc_auc`
    discipline); the ungrouped path rides
    :func:`~.prefix.global_running_sums` on the DESCENDING sort key so
    no unpartitioned window ever enters the plan; group totals come
    back on the same keyed aggregate (grouped) or the one-row broadcast
    idiom (ungrouped).
    """
    from .prefix import global_running_sums

    grp = [group_col] if group_col else []
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        *grp,
        F.col(score_col).alias("__v"),
        (F.col(label_col) != 0).cast("long").alias("__p"),
        (F.col(label_col) == 0).cast("long").alias("__q"),
    )
    per_v = base.groupBy(*grp, "__v").agg(
        F.sum("__p").cast("long").alias("__cp"),
        F.sum("__q").cast("long").alias("__cq"),
    )
    if group_col:
        ww = (
            Window.partitionBy(group_col)
            .orderBy(F.col("__v").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        run = per_v.select(
            *grp,
            "__v",
            F.sum("__cp").over(ww).alias("tp"),
            F.sum("__cq").over(ww).alias("fp"),
        )
    else:
        # descending prefix: running-sum on the negated sort key, emit
        # the original score
        neg = per_v.withColumn("__nv", -F.col("__v"))
        run = global_running_sums(
            neg,
            ["__nv"],
            {"tp": "__cp", "fp": "__cq"},
            boundary_source=base.select((-F.col("__v")).alias("__nv")),
        ).select(*grp, "__v", "tp", "fp")
    totals = per_v.groupBy(*grp).agg(
        F.sum("__cp").cast("long").alias("__np")
    )
    joined = (
        run.join(totals, grp)
        if grp
        else run.crossJoin(F.broadcast(totals))
    )
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    return joined.select(
        *grp,
        F.col("__v").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        (tp / (tp + fp)).alias("precision"),
        F.when(
            F.col("__np") > 0, tp / F.col("__np").cast("double")
        ).alias("recall"),
    )


def tv_distance(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Exact total variation distance between two groups' categorical
    distributions — TVD = ½ Σ_c |p_a(c) − p_b(c)|, the bounded [0,1]
    drift number for label/category mixes (the categorical sibling of
    :func:`wasserstein_1d`; unlike KL/PSI it needs no log and no
    smoothing, so it is computable EXACTLY):

        |c_a/n_a − c_b/n_b| = |c_a·n_b − c_b·n_a| / (n_a·n_b)
        TVD = Σ_c |c_a·n_b − c_b·n_a| / (2·n_a·n_b)

    The numerator is a DECIMAL(38,0) sum of exact integer terms
    (order-independent); the single final division is the only float —
    bit-identical across engines and partitionings. Categories present
    in only one group contribute their full mass, as the identity
    requires. NULL categories are a legitimate level.

    Output: one row — ``(n_a, n_b, n_categories, tv_distance)``
    (``n_categories`` = categories seen in either group). Both groups
    empty → NULL distance.

    Scale shape: one conditional (cat) aggregate with map-side combine
    collapses the data to the category alphabet, the group totals ride
    the sanctioned one-row broadcast, and the Σ is a second bounded
    aggregate. No window, no data-sized join.
    """
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b])).select(
        g.alias("__g"), F.col(cat_col).alias("__c")
    )
    per_cat = base.groupBy("__c").agg(
        F.count(F.when(F.col("__g") == group_a, 1)).cast(
            "decimal(38,0)"
        ).alias("__ca"),
        F.count(F.when(F.col("__g") == group_b, 1)).cast(
            "decimal(38,0)"
        ).alias("__cb"),
    ).filter((F.col("__ca") > 0) | (F.col("__cb") > 0))
    tot = per_cat.agg(
        F.coalesce(F.sum("__ca"), F.lit(0).cast("decimal(38,0)")).alias(
            "__na"
        ),
        F.coalesce(F.sum("__cb"), F.lit(0).cast("decimal(38,0)")).alias(
            "__nb"
        ),
    )
    num = per_cat.crossJoin(F.broadcast(tot)).agg(
        F.coalesce(
            F.sum(
                F.abs(
                    F.col("__ca") * F.col("__nb")
                    - F.col("__cb") * F.col("__na")
                )
            ),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__num"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
    )
    na, nb = F.col("__na"), F.col("__nb")
    # tot always holds exactly one row (ungrouped aggregate), so the
    # empty-input edge still reports n_a = n_b = 0 with a NULL distance.
    return tot.crossJoin(F.broadcast(num)).select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        "n_categories",
        F.when(
            (na > 0) & (nb > 0),
            F.col("__num").cast("double")
            / (2 * na * nb).cast("double"),
        ).alias("tv_distance"),
    )
