"""Deterministic sampling for training-data curation.

Both operators are reproducible across runs, engines, and partitionings —
the "random" order is md5 of the row's id (+ an explicit salt), never an
engine RNG. That property is what makes sampled corpora auditable: the
same inputs always yield the same sample, and a DuckDB oracle can verify
the exact row set.

Scale notes:
- :func:`hash_sample` is a scan-level filter — no shuffle, no state; the
  sampling decision is a pure function of the row. This is the 100 TB
  workhorse (e.g. "keep 10% of CommonCrawl").
- :func:`stratified_sample` caps rows per group, which needs a per-group
  rank: one shuffle on the group key. A pathologically hot group
  serializes its sort into one task — for per-DOMAIN caps that is the
  intended behavior (the cap is usually ≪ group size; Spark's window
  TopK pushdown `WindowGroupLimit` keeps only k rows per partition
  before the sort at recent versions).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hash_sample(
    df: DataFrame,
    fraction: float,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows: the first 4 hex digits
    of ``md5(id || '|')`` interpreted as an integer in [0, 65536) must
    fall below ``fraction * 65536``.

    The threshold form means the ``fraction=0.2`` sample is a SUPERSET
    of the ``fraction=0.1`` sample — handy for growing a corpus without
    resampling.

    Rows with a NULL ``id_col`` are DROPPED (their md5 bucket is NULL,
    and a NULL comparison filters false): an unkeyed row has no stable
    sampling decision, and keeping it unconditionally would bias every
    fraction upward. Same contract as :func:`dataset_split`'s NULL
    split — filter or key such rows before sampling.
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|"))), 1, 4),
        16,
        10,
    ).cast("int")
    return df.filter(bucket < int(fraction * 65536))


def dataset_split(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment: each row's split
    is decided by where its 16-bit md5 bucket (``md5(id || '|' ||
    salt)``, the house sampling grid — see :func:`hash_sample`) falls
    among the cumulative split boundaries.

    Properties a training pipeline needs and random() can't give:
    id-stable (a document keeps its split across reruns AND across
    corpus growth — no leakage of yesterday's val docs into today's
    train), engine-reproducible (md5, not an engine RNG), and
    cluster-order-independent (pure per-row algebra, zero shuffles).
    Different ``salt`` values draw independent partitions. Rows with a
    NULL ``id_col`` get a NULL split (an unkeyed row has no stable
    assignment — filing it anywhere would silently leak it into that
    subset on every rerun).

    The default salt is ``"split"``, deliberately DIFFERENT from
    :func:`hash_sample`'s unsalted ``md5(id || '|')``: with a shared
    salt the two draws are the SAME md5 bucket compared to different
    thresholds, so ``dataset_split(hash_sample(df, 0.1))`` would label
    the entire sample "train" and leave val/test empty. Distinct salts
    make library compositions independent by default.
    """
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    out = (
        F.when(bucket < int(0.9 * 65536), "train")
        .when(bucket < int(0.95 * 65536), "val")
        .otherwise(F.lit("test"))
    )
    return df.withColumn(
        out_col, F.when(F.col(id_col).isNotNull(), out)
    )


def leakage_safe_split(
    df: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Near-duplicate-safe train/val/test assignment: the split is
    decided by the document's DUP-CLUSTER representative, not the
    document itself, so two near-duplicates can never land in
    different subsets — the eval-contamination mode that per-doc
    hashing (:func:`dataset_split`) cannot prevent (a train doc and
    its 99%-identical val twin hash independently).

    ``clusters`` maps ``id_col`` → ``cluster_col`` for the documents
    that belong to a duplicate cluster (e.g. the output of
    ``dedup.dedup_clusters``, whose cluster id is the min member id).
    Documents absent from the map are singletons and key on their own
    id — consistent with the min-member convention, because a cluster's
    representative IS a member and receives the same key either way.

    The split function over the key is exactly :func:`dataset_split`'s
    16-bit md5 grid (same salt semantics, same thresholds), so the two
    operators agree on singleton documents by construction.

    Scale shape: one equi-join of the corpus against the cluster map on
    the id (the map holds only duplicate members — usually a small
    fraction of the corpus, broadcastable in practice; expressed as a
    plain join so AQE picks the strategy from real sizes), then pure
    per-row hash algebra — no window, no extra shuffle.
    """
    cmap = clusters.select(
        F.col(id_col).alias("__cid"), F.col(cluster_col).alias("__cluster")
    )
    keyed = df.join(cmap, df[id_col] == cmap["__cid"], "left").drop("__cid")
    keyed = keyed.withColumn(
        "__skey", F.coalesce(F.col("__cluster").cast("string"), F.col(id_col).cast("string"))
    ).drop("__cluster")
    return dataset_split(keyed, id_col="__skey", salt=salt, out_col=out_col).drop(
        "__skey"
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    n_per_group: int,
    *,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Per-group cap: keep at most ``n_per_group`` rows per value of
    ``group_col``, chosen by the deterministic md5 order (id tiebreak).

    The standard per-domain/per-source quota in corpus mixing — prevents
    one giant domain from dominating the training mix.
    """
    order_key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}")))
    w = Window.partitionBy(group_col).orderBy(order_key, F.col(id_col))
    return (
        df.withColumn("__sr", F.row_number().over(w))
        .filter(F.col("__sr") <= n_per_group)
        .drop("__sr")
    )


def mixture_sample(
    df: DataFrame,
    domain_col: str,
    fractions: dict[str, float],
    *,
    id_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-domain deterministic downsampling to hit a target mixture.

    ``fractions`` maps domain value → keep rate in [0, 1] (e.g. web 0.1,
    books 1.0, code 0.5 — the "mixture weights" step of corpus
    construction, where sources are downsampled to their target share of
    the training mix). Domains absent from the map use
    ``default_fraction``.

    Same md5-bucket rule as :func:`hash_sample`, so the kept set is a
    pure function of (id, salt): reproducible across runs, engines, and
    partitionings, and a domain's ``0.2`` sample is a superset of its
    ``0.1`` sample. Scale: the per-domain threshold is a small literal
    map looked up per row — a scan-level filter, no shuffle, no join,
    no driver state.

    NULL handling (same contract as :func:`hash_sample`): NULL
    ``id_col`` rows are dropped — no id, no stable draw. A NULL
    ``domain_col`` falls through to ``default_fraction`` (the map
    lookup misses, coalesce supplies the default), so unlabeled rows
    are sampled at the default rate, not silently removed.
    """
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    pairs: list = []
    for domain, frac in sorted(fractions.items()):
        pairs.append(F.lit(domain))
        pairs.append(F.lit(int(frac * 65536)))
    thr = F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(domain_col)),
        F.lit(int(default_fraction * 65536)),
    )
    return df.filter(bucket < thr)

def temperature_sample(
    df: DataFrame,
    domain_col: str,
    *,
    temperature: float = 2.0,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture sampling — the multilingual/multi-source
    rebalancing rule (XLM-R, mT5: sample source s with probability
    ∝ (n_s/N)^(1/T)) realized as deterministic downsampling: the largest
    sources are thinned toward the tempered shares while the SMALLEST
    source keeps every row (filters cannot upsample). The per-source
    keep rate follows from k_s = r_s·n_s ∝ n_s^(1/T):

        r_s = (n_min / n_s)^((T-1)/T)

    ``temperature`` must be a power of two (2, 4, 8, …): the exponent
    (T-1)/T then expands into a chain of ``sqrt`` calls and
    multiplications — ``sqrt`` is IEEE-correctly-rounded in every
    engine, unlike ``pow``/``ln`` whose libm variation this engine's
    oracle discipline forbids. T→∞ approaches uniform source shares;
    T=1 would be a no-op (r_s = 1).

    Scale shape: one tiny per-domain count aggregate, a one-row min
    folded in by cross-joining the broadcast singleton, and a broadcast
    join of the #domains-sized rate table back onto the scan — the
    per-row decision is the same md5-bucket rule as
    :func:`mixture_sample` (scan-level, reproducible, ``fraction``-
    superset property per domain), so the corpus itself never shuffles.

    NULL handling: a NULL ``domain_col`` is its own source (groupBy
    counts it; the null-safe rate join matches it back), so unlabeled
    rows are tempered like any other domain rather than dropped. NULL
    ``id_col`` rows are dropped, as everywhere in this module.
    """
    k = math.log2(temperature)
    if temperature <= 1 or k != int(k):
        raise ValueError(
            "temperature_sample: temperature must be a power of two > 1"
        )
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    x = F.col("__nmin").cast("double") / F.col("__n").cast("double")
    # (T-1)/T = sum_{i=1..k} 2^-i: multiply the iterated square roots.
    rate = F.lit(1.0)
    y = x
    for _ in range(int(k)):
        y = F.sqrt(y)
        rate = rate * y
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        F.col(domain_col).alias("__dom"),
        F.floor(rate * F.lit(65536.0)).cast("int").alias("__thr"),
    )
    bucket = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))), 1, 4
        ),
        16,
        10,
    ).cast("int")
    return (
        # eqNullSafe: groupBy already counted NULL-domain rows as their
        # own source, so the rate join must match that group back — a
        # plain equi-join's NULL != NULL would silently drop every
        # unlabeled row instead of tempering it like any other source.
        df.join(
            F.broadcast(rates),
            on=F.col(domain_col).eqNullSafe(F.col("__dom")),
        )
        # "< thr" with thr = floor(r·65536) keeps every row of the
        # smallest source only when r rounds up to the full 65536 —
        # r_s = 1 exactly there, so it does.
        .filter(bucket < F.col("__thr"))
        .drop("__dom", "__thr")
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    *,
    id_col: str = "doc_id",
    group_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — priority
    (sequential Poisson) sampling, Duffield-Lund-Thorup 2007: each row
    gets priority q = w / u with u its id's md5-uniform in (0, 1], and
    the top-``k`` priorities (per ``group_col`` when given) are kept.
    Inclusion probability ≈ min(1, k·w/ΣW) — the weighted quota the
    unweighted samplers here can't express (sample documents
    proportional to token count, hosts by byte volume).

    House determinism: u = (h+1)/2^60 from the id's 60-bit md5 prefix,
    so q = w · 2^60 / (h+1) is TWO fixed-order IEEE double ops — the
    kept set is a pure function of (id, weight, salt), reproducible
    across runs, engines, and partitionings, and oracle-checkable.
    Rows with NULL ids are dropped (no stable draw — the module
    contract); NULL or non-positive weights are dropped (they can
    never be sampled proportionally).

    Scale shape: scan-side priority projection + one per-group top-k
    window (WindowGroupLimit prunes to k rows per partition before the
    sort). Ties (identical priority) break on id ascending.
    """
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    w = F.col(weight_col).cast("double")
    prio = (
        w * F.lit(1152921504606846976.0) / (h + F.lit(1)).cast("double")
    )
    grp = [group_col] if group_col is not None else []
    base = df.filter(
        F.col(id_col).isNotNull() & w.isNotNull() & (w > 0)
    ).withColumn("__q", prio)
    win = Window.partitionBy(*grp).orderBy(
        F.col("__q").desc(), F.col(id_col).asc()
    )
    return (
        base.withColumn("__r", F.row_number().over(win))
        .filter(F.col("__r") <= k)
        .drop("__q", "__r")
    )


def budget_select(
    df: DataFrame,
    budget_tokens: int,
    *,
    bucket_col: str = "quality_bucket",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget corpus selection: keep the best documents — highest
    ``bucket_col`` first, ``id_col`` as the deterministic tiebreak —
    until the running token total reaches ``budget_tokens`` (a document
    is kept iff its inclusive cumulative sum stays ≤ the budget).

    This is the "fill the training budget from the top of the quality
    distribution" step of corpus construction. Semantically it is ONE
    global sort + cumulative sum — which would serialize 100 TB through
    a single task — so it is computed as two passes instead:

    1. per-bucket token totals (tiny aggregate: O(#buckets) rows) with a
       running prefix over the bucket frame only;
    2. broadcast the bucket boundaries back: buckets that fit entirely
       within the budget are kept with NO per-row ordering at all, and
       only the single boundary-straddling bucket is filtered down to
       its rows and given a within-bucket cumulative-sum window.

    The expensive window therefore sorts one bucket's rows, not the
    corpus, and the kept set is exactly the global-order definition
    (bucket prefix + within-bucket prefix == global prefix). Exact long
    arithmetic throughout — the result is independent of partitioning.
    """
    per = df
    buckets = per.groupBy(bucket_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("__btok")
    )
    # Bounded by construction: `buckets` is a per-bucket aggregate
    # (O(#buckets) rows), so this single-partition prefix sorts the
    # bucket frame only — never the documents. Partitioning by the
    # frame-constant bucket count (one-row agg + broadcast) executes
    # identically to an unpartitioned spec but declares the bound in
    # the plan, so no WindowExec scale warning lands in bench tails.
    bc = buckets.agg(F.count(F.lit(1)).alias("__kb"))
    wb = (
        Window.partitionBy("__kb")
        .orderBy(F.col(bucket_col).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    buckets = buckets.crossJoin(F.broadcast(bc)).withColumn(
        "__before", F.coalesce(F.sum("__btok").over(wb), F.lit(0).cast("long"))
    )
    joined = per.join(
        F.broadcast(buckets.select(bucket_col, "__before", "__btok")), on=bucket_col
    )
    full = joined.filter(F.col("__before") + F.col("__btok") <= budget_tokens)
    straddle = joined.filter(
        (F.col("__before") < budget_tokens)
        & (F.col("__before") + F.col("__btok") > budget_tokens)
    )
    ww = Window.partitionBy(bucket_col).orderBy(id_col)
    boundary_kept = (
        straddle.withColumn(
            "__cum", F.col("__before") + F.sum(F.col(tokens_col).cast("long")).over(ww)
        )
        .filter(F.col("__cum") <= budget_tokens)
        .drop("__cum")
    )
    return full.unionByName(boundary_kept).drop("__before", "__btok")


def shard_assign(
    df: DataFrame,
    n_shards: int,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus-wide shuffle + sharding — the export step
    that turns a curated corpus into N training shards, each internally
    shuffled, without ever running a global sort.

    ``shard`` is the first 8 hex digits of ``md5(id || '|')`` mod
    ``n_shards`` (uniform and reproducible); ``pos`` is the document's 0-based rank
    within its shard under the full-digest order (id tiebreak). Reading
    shard files in ``pos`` order replays one fixed global permutation.

    Scale: one shuffle on the shard key, then a per-shard sort of (id,
    digest) rows — fixed-width, so a shard's sort state is tiny relative
    to the documents themselves; ``n_shards`` is the parallelism lever
    (thousands at 100 TB, exactly how a training loader wants its input
    laid out anyway). Never a single global order-by.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    digest = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|")))
    out = df.withColumn("__digest", digest).withColumn(
        "shard",
        (F.conv(F.substring("__digest", 1, 8), 16, 10).cast("long") % n_shards),
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("__digest").asc(), F.col(id_col).asc()
    )
    return out.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("long")
    ).drop("__digest")


def rendezvous_shard(
    df: DataFrame,
    n_shards: int,
    *,
    id_col: str = "doc_id",
    salt: str = "",
    out_col: str = "shard",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment — Thaler &
    Ravishankar 1998: each row goes to the shard whose
    ``md5(id '|' salt '#' shard)`` is LARGEST. Unlike ``shard_assign``'s
    ``hash mod n`` (which relocates ~(n-1)/n of all rows when n
    changes), growing n -> n+1 moves ONLY the rows the new shard wins —
    an expected 1/(n+1) fraction — and never moves a row between two
    pre-existing shards. That is the property that lets a 100 TB corpus
    be re-sharded incrementally: copy the new shard's rows, leave
    everything else in place.

    Deterministic md5 argmax (ties broken by higher shard id via the
    hash tuple, vanishing-probability anyway), so assignments are
    engine-exact. Cost: an n_shards-way per-row explode + max_by — one
    projection + one keyed-free aggregation per row group, no shuffle
    at all (the winner is computed row-locally via array algebra).
    NULL ids get a NULL shard.
    """
    if n_shards <= 0:
        raise ValueError("rendezvous_shard: n_shards must be positive")
    scores = F.array(
        *[
            F.struct(
                F.md5(
                    F.concat(
                        F.col(id_col).cast("string"),
                        F.lit(f"|{salt}#{s}"),
                    )
                ).alias("h"),
                F.lit(s).alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    winner = F.array_max(scores)["s"]
    return df.withColumn(
        out_col,
        F.when(F.col(id_col).isNotNull(), winner).cast("int"),
    )


def stratified_exact(
    df: DataFrame,
    group_col: str,
    id_col: str,
    *,
    fraction: tuple[int, int] = (1, 10),
    salt: str = "",
) -> DataFrame:
    """EXACT stratified sampling by largest-remainder apportionment
    (Hamilton's method): the sample holds exactly
    ``floor(N·num/den)`` rows in total, with each group's quota
    ``floor(n_g·num/den)`` plus one extra for the groups with the
    largest remainders (ties to the smaller group key) until the
    global total is met. Contrast :func:`hash_sample` /
    :func:`stratified_sample`: hash thresholds only APPROXIMATE the
    fraction per group (binomial noise ~√n), which is exactly what a
    contractual train/eval split or a paid-labeling budget can't
    tolerate. Within each group the selected rows are the md5-smallest
    ids — deterministic, engine-portable, and auditable.

    ``fraction`` is an exact rational ``(num, den)``; all quota
    arithmetic is integer (``div``/``mod``), so the sample SIZE never
    depends on float rounding. Rows whose group is NULL form one real
    group (null-safe join back). Returns the input rows that made the
    sample, original schema.

    Scale shape: quotas live on the per-group COUNT frame (tiny —
    group cardinality), where the remainder ranking is a window over
    that small frame, never the corpus; the corpus pays one window
    (rank by md5 within group — the stratified_sample shuffle) and one
    broadcast-backed quota join. Hot groups serialize only their own
    top-quota selection, with WindowGroupLimit bounding per-partition
    state when quotas are small.
    """
    num, den = fraction
    if num < 0 or den < 1:
        raise ValueError("stratified_exact: bad fraction")
    g, i = F.col(group_col), F.col(id_col)
    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    # integer quota arithmetic on the small per-group frame
    quota = counts.select(
        group_col,
        "__n",
        F.expr(f"__n * {int(num)} div {int(den)}").alias("__floor"),
        ((F.col("__n") * F.lit(int(num))) % F.lit(int(den))).alias("__rem"),
    )
    # Bounded by construction: `quota` is the per-GROUP count frame
    # (O(#groups) rows), so the remainder ranking sorts groups, never
    # rows. Global totals ride a one-row aggregate + broadcast (the
    # sanctioned one-row idiom), and the ranking window partitions by
    # the frame-constant group count — identical single-partition
    # execution with the bound DECLARED in the plan, so no WindowExec
    # scale warning lands in bench tails.
    gtot = quota.agg(
        F.count(F.lit(1)).alias("__kg"),
        F.sum("__floor").alias("__sum_floor"),
        F.sum("__n").alias("__total_n"),
    )
    wall = Window.partitionBy("__kg").orderBy(
        F.col("__rem").desc(), F.col(group_col).asc_nulls_last()
    )
    totals = quota.crossJoin(F.broadcast(gtot)).select(
        group_col,
        "__floor",
        F.row_number().over(wall).alias("__rr"),
        "__sum_floor",
        "__total_n",
    )
    # Renamed join key (__tg, not the group column's own name): the
    # quota frame derives from `df`, so a same-name ref on both join
    # sides resolves to one attribute and Spark logs a "trivially true
    # equals predicate" warning on every run.
    targets = totals.select(
        F.col(group_col).alias("__tg"),
        (
            F.col("__floor")
            + F.when(
                F.col("__rr")
                <= F.expr(f"__total_n * {int(num)} div {int(den)}")
                - F.col("__sum_floor"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("__target"),
    )
    ranked = df.withColumn(
        "__rk",
        F.row_number().over(
            Window.partitionBy(group_col).orderBy(
                F.md5(F.concat(i.cast("string"), F.lit(salt))).asc(),
                i.asc(),
            )
        ),
    )
    joined = ranked.join(
        F.broadcast(targets),
        on=ranked[group_col].eqNullSafe(F.col("__tg")),
    ).filter(F.col("__rk") <= F.col("__target"))
    return joined.select(*[ranked[c] for c in df.columns])


def negative_samples(
    df: DataFrame,
    id_col: str,
    label_col: str,
    *,
    k: int = 3,
    lookahead: int = 8,
    n_buckets: int = 16,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every anchor row, up to ``k`` pseudo-random partners with a
    DIFFERENT label — the (anchor, negative) pair generator behind
    embedding/contrastive objectives, built without a cross join and
    without RNG state.

    Scheme: rows land on md5 rings (``n_buckets`` of them, bucket =
    digest prefix mod); within a ring, rows are ordered by digest (a
    fixed pseudo-random permutation), and each anchor scans its next
    ``lookahead`` ring neighbors in BOTH directions, keeping the first
    ``k`` whose label differs (forward neighbors first, rank order
    deterministic).

    Honest contract: anchors near a ring seam, or rings with fewer
    than k differently-labeled rows within reach, yield FEWER than k
    negatives (``n_negatives`` says how many) — raise ``lookahead`` or
    lower ``n_buckets`` when labels are heavily clustered. NULL
    ids/labels are dropped.

    Scale shape: ONE exchange on the ring bucket; the 2·lookahead
    neighbor peeks are lead/lag columns over the same sort —
    per-anchor state is constant, no join, no cross anything.
    """
    if k < 1 or lookahead < k:
        raise ValueError("negative_samples: need lookahead >= k >= 1")
    digest = F.md5(F.concat(F.col(id_col).cast("string"), F.lit("|")))
    base = (
        df.filter(F.col(id_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.col(label_col).alias("__lab"),
            digest.alias("__dg"),
        )
        .withColumn(
            "__bkt",
            F.expr("cast(conv(substring(__dg, 1, 8), 16, 10) as bigint)")
            % F.lit(int(n_buckets)),
        )
    )
    w = Window.partitionBy("__bkt").orderBy(F.col("__dg").asc(), F.col("__id").asc())
    # window peeks materialize in their own projection — Spark rejects
    # window expressions nested under generators/filters.
    peek_cols, peek_names = [], []
    for i in range(1, lookahead + 1):
        for ord_, fn in ((i, F.lead), (lookahead + i, F.lag)):
            peek_cols.append(fn("__id", i).over(w).alias(f"__nid_{ord_}"))
            peek_cols.append(fn("__lab", i).over(w).alias(f"__nlab_{ord_}"))
            peek_names.append(ord_)
    peeked = base.select("__id", "__lab", *peek_cols)
    cands = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(o).alias("ord"),
                    F.col(f"__nid_{o}").alias("nid"),
                    F.col(f"__nlab_{o}").alias("nlab"),
                )
                for o in peek_names
            ]
        ),
        lambda s: s["nid"].isNotNull() & (s["nlab"] != F.col("__lab")),
    )
    kept = F.slice(F.array_sort(cands), 1, k)
    staged = peeked.select(
        F.col("__id").alias("anchor_id"),
        F.col("__lab").alias("anchor_label"),
        kept.alias("__kept"),
    )
    out = staged.select(
        "anchor_id",
        "anchor_label",
        F.size("__kept").cast("long").alias("n_negatives"),
        F.posexplode_outer("__kept").alias("__p", "__s"),
    )
    return out.select(
        "anchor_id",
        "anchor_label",
        "n_negatives",
        (F.col("__p") + 1).cast("long").alias("neg_rank"),
        F.col("__s.nid").alias("neg_id"),
        F.col("__s.nlab").alias("neg_label"),
    ).filter(F.col("neg_id").isNotNull() | (F.col("n_negatives") == 0))


def kfold_assign(
    df: DataFrame,
    k: int,
    *,
    id_col: str = "doc_id",
    stratify_col: str | None = None,
    salt: str = "fold",
    out_col: str = "fold",
) -> DataFrame:
    """Stratified k-fold assignment: fold = (md5-order rank within the
    stratum) mod k, so every stratum's rows spread across the k folds
    with sizes differing by at most one — the cross-validation split
    whose per-fold class balance is exact, not expected. With
    ``stratify_col=None`` the whole frame is one stratum (plain k-fold,
    still exactly balanced).

    Deterministic and engine-reproducible: the "shuffle" order inside a
    stratum is ``md5(id || '|' || salt)`` (ties broken by the id
    itself), never an RNG — the same corpus always yields the same
    folds, and a DuckDB oracle can verify the exact assignment. NULL
    ids get a NULL fold (no stable assignment; same contract as
    :func:`dataset_split`) and are excluded from the rank window
    entirely, so a valid row's fold is independent of how many NULL-id
    rows ride along — the same frame pre-filtered or not yields
    identical folds (round-10 fix: NULL md5 keys used to sort first
    inside the window and shift every valid row's rank).

    Scale shape: one rank window per stratum — a keyed partition (the
    per-stratum sort is the price of EXACT balance; the strata of a
    stratified CV are label/domain classes, orders of magnitude more
    granular than one global sort). For unstratified use at corpus
    scale prefer :func:`dataset_split`-style hashing when expected
    balance suffices; this operator is for when exactness is the point.
    """
    if k < 2:
        raise ValueError("kfold_assign: k must be >= 2")
    strat = [stratify_col] if stratify_col else []
    h = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit(f"|{salt}"))
    )
    # NULL-id rows are isolated into their own window partition (the
    # isNull() partition key), so valid rows' ranks never see them —
    # one pass, no filter/union re-scan of the source.
    w = Window.partitionBy(
        *(strat or [F.lit(1)]), F.col(id_col).isNull()
    ).orderBy(h, F.col(id_col))
    fold = ((F.row_number().over(w) - 1) % k).cast("long")
    return df.withColumn(
        out_col, F.when(F.col(id_col).isNotNull(), fold)
    )
