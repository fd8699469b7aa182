"""Distributed classifier training with exact integer arithmetic.

A training-data pipeline trains lightweight quality/language classifiers
over the corpus it is curating (the fastText-style filters of the LLM
data literature). The iterative trainer here is the **batch perceptron**:
per round, sum the gradient ``y_i * x_i`` over currently-misclassified
rows and add it to the weights. Chosen over logistic regression
deliberately — the batch-perceptron update is pure INTEGER arithmetic
(features and labels integer, sums exact, no transcendental functions),
so the trained weights are bit-identical across engines, partitionings,
and summation orders — the same determinism discipline as
:func:`~.stats.group_ols` (exact DECIMAL moments, floats only at a fixed
final step; here not even that).

Scale shape: each round is ONE map-side-combinable aggregate over the
feature frame (cached once across rounds); driver traffic per round is
the weight vector (features + 2 numbers). Rounds are sequential by
algorithmic contract — exactly like the k-means / greedy-set-cover
pattern elsewhere in the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..detach import held


def perceptron_train(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    *,
    n_iter: int = 3,
) -> DataFrame:
    """Train a batch perceptron; return the per-round trace.

    ``feature_cols`` must be integer-valued (they are cast to
    DECIMAL(38,0) — fractional inputs would be silently rounded, so
    pre-scale to an integer grid as with :func:`~.stats.exact_corr`);
    ``label_col`` must be +1 / -1. Round t computes the margin
    ``y * (w_{t-1} . x + b_{t-1})`` per row, counts the misclassified
    (margin <= 0 — ties count as wrong, the classic convention), and
    applies the summed update ``w_t = w_{t-1} + sum(y x)``,
    ``b_t = b_{t-1} + sum(y)`` over exactly those rows.

    Output: one row per round —
    ``(iter, n_misclassified, w_<feature>..., bias)`` where
    ``n_misclassified`` is measured UNDER THE INCOMING weights (so
    round 1 reports the zero-weight error, i.e. the full row count) and
    the weights are the post-update values. All longs.

    Overflow envelope: weights are bounded by ``n_iter * sum|x|``;
    margins by ``max|x| * that`` — the same 10^38 DECIMAL envelope as
    ``exact_corr``; pre-scale features (counts, not epoch-micros) to
    stay inside it.

    Scale shape: the feature frame is projected once and cached;
    each round is one aggregate with map-side partial sums (integer
    adds — associative, so the result is partition-invariant by
    construction, not by luck); the per-round collect is the weight
    vector only. No shuffle of the data itself, ever — the only data
    movement is the aggregate's partial-sum tree.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    d = F.lit(0).cast("decimal(38,0)")
    with held() as hold:
        feats = hold(df.select(
            *[F.col(c).cast("decimal(38,0)").alias(f"__x{j}")
              for j, c in enumerate(feature_cols)],
            F.col(label_col).cast("decimal(38,0)").alias("__y"),
        ))
        k = len(feature_cols)
        w = [0] * k
        b = 0
        trace = []
        for t in range(1, n_iter + 1):
            margin = F.lit(int(b)).cast("decimal(38,0)")
            for j in range(k):
                margin = margin + F.lit(int(w[j])).cast(
                    "decimal(38,0)"
                ) * F.col(f"__x{j}")
            mis = (F.col("__y") * margin) <= 0
            row = feats.agg(
                F.count(F.when(mis, 1)).alias("__nm"),
                *[
                    F.coalesce(
                        F.sum(F.when(mis, F.col("__y") * F.col(f"__x{j}"))),
                        d,
                    ).alias(f"__d{j}")
                    for j in range(k)
                ],
                F.coalesce(F.sum(F.when(mis, F.col("__y"))), d).alias("__db"),
            ).collect()[0]
            n_mis = int(row["__nm"])
            w = [w[j] + int(row[f"__d{j}"]) for j in range(k)]
            b = b + int(row["__db"])
            trace.append((t, n_mis, *w, b))
    schema = (
        "iter long, n_misclassified long, "
        + ", ".join(f"w_{c} long" for c in feature_cols)
        + ", bias long"
    )
    return df.sparkSession.createDataFrame(trace, schema)


def confusion_metrics(
    df: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Per-class confusion-matrix evaluation of a classifier's
    predictions against gold labels — the evaluation half the
    :func:`perceptron_train` trainer needs (train exactly, then score
    exactly):

        tp(c) = |label = c ∧ pred = c|      precision = tp/(tp+fp)
        fp(c) = |label ≠ c ∧ pred = c|      recall    = tp/(tp+fn)
        fn(c) = |label = c ∧ pred ≠ c|      f1 = 2·p·r/(p+r)

    All counts are exact BIGINTs off ONE (label, pred) cross-tab
    aggregate; precision/recall are single IEEE divisions and f1 one
    fixed written-order expression, so every value is bit-identical
    across engines and partitionings. A class is emitted if it appears
    as a label OR as a prediction; zero-denominator metrics are NULL.

    Output: one row per class — ``(class, tp, fp, fn, precision,
    recall, f1)``.

    Scale shape: one map-side-combinable groupBy(label, pred) collapses
    the data to a classes² frame; everything after (two re-keyed
    aggregates + one outer join) runs on that bounded cross-tab. Rows
    with NULL label or prediction are excluded (scored elsewhere — a
    NULL prediction is an abstention, not a class).
    """
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(pred_col).isNotNull()
    ).select(F.col(label_col).alias("__l"), F.col(pred_col).alias("__p"))
    xt = base.groupBy("__l", "__p").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    hit = F.when(F.col("__l") == F.col("__p"), F.col("__n")).otherwise(
        F.lit(0).cast("long")
    )
    by_label = xt.groupBy(F.col("__l").alias("class")).agg(
        F.sum(hit).alias("__tp_l"),
        F.sum(F.col("__n") - hit).alias("fn"),
    )
    by_pred = xt.groupBy(F.col("__p").alias("class")).agg(
        F.sum(hit).alias("__tp_p"),
        F.sum(F.col("__n") - hit).alias("fp"),
    )
    both = by_label.join(by_pred, "class", "full_outer").select(
        "class",
        F.coalesce(F.col("__tp_l"), F.col("__tp_p"), F.lit(0)).cast(
            "long"
        ).alias("tp"),
        F.coalesce(F.col("fp"), F.lit(0)).cast("long").alias("fp"),
        F.coalesce(F.col("fn"), F.lit(0)).cast("long").alias("fn"),
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = F.when(F.col("tp") + F.col("fp") > 0, tp / (tp + fp))
    rec = F.when(F.col("tp") + F.col("fn") > 0, tp / (tp + fn))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return both.select(
        "class", "tp", "fp", "fn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    *,
    smoothing: int = 10,
) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column against
    an INTEGER-valued target — the classic high-cardinality feature
    transform (a category's raw mean overfits when its count is small;
    shrink it toward the global prior):

        enc(c) = (Σy_c + m·ȳ) / (n_c + m),   ȳ = ΣY / N,  m = smoothing

    Clearing the rational prior gives the exact integer form

        enc(c) = (N·Σy_c + m·ΣY) / (N·(n_c + m))

    — numerator and denominator are DECIMAL(38,0)-exact, the single
    division is the only float, so encodings are bit-identical across
    engines and partitionings (a float-accumulated category mean would
    flap under re-partitioning — disqualifying for a feature that must
    reproduce between training and serving). NULL categories are a
    legitimate level and are encoded too; NULL targets are excluded
    from sums and counts.

    Output: one row per category — ``(cat_col, n, sum_y, encoding)``.

    Scale shape: one map-side-combinable groupBy on the category plus
    the sanctioned one-row global-totals cross join. No window, no
    data-sized join.
    """
    if smoothing < 0:
        raise ValueError("target_encode: smoothing must be >= 0")
    y = F.col(target_col).cast("decimal(38,0)")
    base = df.select(F.col(cat_col), y.alias("__y")).filter(
        F.col("__y").isNotNull()
    )
    per_cat = base.groupBy(cat_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__y").alias("__sy"),
    )
    tot = base.agg(
        F.sum(F.lit(1).cast("decimal(38,0)")).alias("__tn"),
        F.sum("__y").alias("__tsy"),
    )
    m = F.lit(int(smoothing)).cast("decimal(38,0)")
    out = per_cat.crossJoin(F.broadcast(tot))
    num = F.col("__tn") * F.col("__sy") + m * F.col("__tsy")
    den = F.col("__tn") * (F.col("__n") + m)
    return out.select(
        cat_col,
        F.col("__n").cast("long").alias("n"),
        F.col("__sy").cast("long").alias("sum_y"),
        F.when(den > 0, num.cast("double") / den.cast("double")).alias(
            "encoding"
        ),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two labelers
    (Cohen 1960), the standard reliability gate for LLM annotation /
    preference data: raw agreement flatters raters who both spam the
    majority class; kappa subtracts the agreement their marginals would
    produce by chance.

    With n items, a = agreements, r_c / s_c the raters' per-category
    marginal counts, clearing p_o = a/n and p_e = Σ r_c·s_c / n² gives
    the exact integer form

        kappa = (n·a − Σ r_c·s_c) / (n² − Σ r_c·s_c)

    — numerator and denominator DECIMAL(38,0)-exact, the single
    division the only float, so the statistic is bit-identical across
    engines and partitionings. Degenerate chance agreement
    (n² == Σ r_c·s_c, e.g. both raters constant) yields NULL. Rows
    where either label is NULL are excluded (an abstention is not a
    category).

    Output: one row per group — ``(group_col?, n_items, n_agree,
    kappa)``.

    Scale shape: three map-side-combinable aggregates off one base
    projection (agreement totals, per-category marginals per rater),
    one full-outer equi-join of the two category-marginal frames
    (bounded by the label alphabet), one re-aggregate, one broadcast
    join back to the totals. No window, no data-sized join.
    """
    grp = [group_col] if group_col else []
    base = df.filter(
        F.col(rater_a_col).isNotNull() & F.col(rater_b_col).isNotNull()
    ).select(
        *grp,
        F.col(rater_a_col).cast("string").alias("__a"),
        F.col(rater_b_col).cast("string").alias("__b"),
    )
    tot = base.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.count(F.when(F.col("__a") == F.col("__b"), 1)).cast(
            "decimal(38,0)"
        ).alias("__agree"),
    )
    ra = base.groupBy(*grp, F.col("__a").alias("__cat")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__r")
    )
    rb = base.groupBy(*grp, F.col("__b").alias("__cat")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__s")
    )
    pe = (
        ra.join(rb, [*grp, "__cat"], "full_outer")
        .select(
            *grp,
            (
                F.coalesce(F.col("__r"), F.lit(0).cast("decimal(38,0)"))
                * F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,0)"))
            ).alias("__rs"),
        )
        .groupBy(*grp)
        .agg(F.sum("__rs").alias("__pe_num"))
    )
    joined = (
        tot.join(pe, grp) if grp else tot.crossJoin(F.broadcast(pe))
    )
    n, a, p = F.col("__n"), F.col("__agree"), F.col("__pe_num")
    den = n * n - p
    return joined.select(
        *grp,
        n.cast("long").alias("n_items"),
        a.cast("long").alias("n_agree"),
        F.when(
            den != 0, (n * a - p).cast("double") / den.cast("double")
        ).alias("kappa"),
    )


def mcnemar_test(
    df: DataFrame,
    label_col: str,
    pred_a_col: str,
    pred_b_col: str,
    *,
    group_col: str | None = None,
) -> DataFrame:
    """McNemar's paired test — do two classifiers scored on the SAME
    items differ? (McNemar 1947). The A/B gate for swapping a quality /
    language / toxicity filter: accuracy deltas mislead when both
    models get the same easy rows right; only the discordant pairs
    carry signal.

        b = |A right, B wrong|    chi2   = (b − c)² / (b + c)
        c = |A wrong, B right|    chi2cc = (|b−c| − 1)² / (b + c)
                                           (continuity-corrected;
                                            0 when |b−c| ≤ 1)

    Counts are exact BIGINTs off ONE aggregate; each statistic is one
    integer expression and one IEEE division — bit-identical across
    engines and partitionings. ``b + c = 0`` (no discordant pairs)
    yields NULL statistics. Rows with any NULL among label/predictions
    are excluded (an abstention is scored elsewhere).

    Output: one row per group — ``(group_col?, n_items, n_both_right,
    n_only_a, n_only_b, n_both_wrong, chi2, chi2_corrected)``.

    Scale shape: one map-side-combinable aggregate over a boolean
    projection. No join, no window.
    """
    grp = [group_col] if group_col else []
    ok_a = F.col(pred_a_col) == F.col(label_col)
    ok_b = F.col(pred_b_col) == F.col(label_col)
    base = df.filter(
        F.col(label_col).isNotNull()
        & F.col(pred_a_col).isNotNull()
        & F.col(pred_b_col).isNotNull()
    ).select(*grp, ok_a.alias("__oa"), ok_b.alias("__ob"))
    agg = base.groupBy(*grp).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.count(F.when(F.col("__oa") & F.col("__ob"), 1)).cast(
            "long"
        ).alias("n_both_right"),
        F.count(F.when(F.col("__oa") & ~F.col("__ob"), 1)).cast(
            "long"
        ).alias("n_only_a"),
        F.count(F.when(~F.col("__oa") & F.col("__ob"), 1)).cast(
            "long"
        ).alias("n_only_b"),
        F.count(F.when(~F.col("__oa") & ~F.col("__ob"), 1)).cast(
            "long"
        ).alias("n_both_wrong"),
    )
    b, c = F.col("n_only_a"), F.col("n_only_b")
    disc = (b + c).cast("double")
    diff = (b - c).cast("double")
    adiff = F.abs(b - c)
    cdiff = F.when(adiff > 1, (adiff - 1)).otherwise(F.lit(0)).cast(
        "double"
    )
    return agg.select(
        *grp,
        "n_items",
        "n_both_right",
        "n_only_a",
        "n_only_b",
        "n_both_wrong",
        F.when(b + c > 0, diff * diff / disc).alias("chi2"),
        F.when(b + c > 0, cdiff * cdiff / disc).alias("chi2_corrected"),
    )


def brier_score(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    score_den: int,
    group_col: str | None = None,
) -> DataFrame:
    """Brier score — mean squared error of a probabilistic classifier
    against {0,1} outcomes (Brier 1950), the proper scoring rule that
    rewards CALIBRATION where accuracy only rewards ranking.

    Scores arrive as integers on a fixed grid (``score_col`` in
    ``[0, score_den]``, probability = score/score_den — the same
    integer-grid contract as :func:`perceptron_train` features), so

        brier = Σ (score_i − y_i·den)² / (n · den²)

    is one exact DECIMAL(38,0) numerator and one IEEE division —
    bit-identical across engines, partitionings, and summation orders
    (a float Σ(p−y)² would flap under re-partitioning). Rows with NULL
    or out-of-grid scores are excluded and counted in ``n_excluded``.

    Output: one row per group — ``(group_col?, n, n_excluded, brier)``.

    Scale shape: one map-side-combinable aggregate. No join, no window.
    """
    if score_den < 1:
        raise ValueError("brier_score: score_den must be >= 1")
    grp = [group_col] if group_col else []
    s = F.col(score_col).cast("long")
    y = (F.col(label_col) != 0).cast("long")
    in_grid = (
        F.col(label_col).isNotNull()
        & s.isNotNull()
        & (s >= 0)
        & (s <= int(score_den))
    )
    den = F.lit(int(score_den)).cast("decimal(38,0)")
    err = s.cast("decimal(38,0)") - y.cast("decimal(38,0)") * den
    agg = df.groupBy(*grp).agg(
        F.count(F.when(in_grid, 1)).cast("long").alias("n"),
        (F.count(F.lit(1)) - F.count(F.when(in_grid, 1))).cast(
            "long"
        ).alias("n_excluded"),
        F.coalesce(
            F.sum(F.when(in_grid, err * err)),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("__se"),
    )
    n = F.col("n").cast("decimal(38,0)")
    return agg.select(
        *grp,
        "n",
        "n_excluded",
        F.when(
            F.col("n") > 0,
            F.col("__se").cast("double")
            / (n * den * den).cast("double"),
        ).alias("brier"),
    )


def calibration_bins(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    score_den: int,
    n_bins: int = 10,
    group_col: str | None = None,
) -> DataFrame:
    """Reliability diagram — per-confidence-bin observed frequency vs
    mean confidence, the table behind expected-calibration-error
    (Naeini et al. 2015) and the diagnostic :func:`brier_score`
    summarizes away.

    Integer-grid contract as :func:`brier_score`: probability =
    score/score_den. Bin assignment is pure integer arithmetic —
    ``bin = min((score·n_bins) div score_den, n_bins−1)`` — and the two
    per-bin means are single IEEE divisions of exact integer sums:

        avg_conf = Σ score / (n·den)      frac_pos = n_pos / n
        gap      = |avg_conf − frac_pos|

    fixed written order, so every row is bit-identical across engines
    and partitionings. ECE is one weighted sum over the returned frame
    (left to the caller — the per-bin table is the useful artifact).
    Out-of-grid rows are excluded.

    Output: one row per non-empty bin — ``(group_col?, bin, n, n_pos,
    avg_conf, frac_pos, gap)``.

    Scale shape: one map-side-combinable aggregate keyed by
    (group, bin) — a frame bounded by groups × n_bins. No join, no
    window.
    """
    if score_den < 1 or n_bins < 1:
        raise ValueError("calibration_bins: score_den and n_bins must be >= 1")
    grp = [group_col] if group_col else []
    s = F.col(score_col).cast("long")
    base = df.filter(
        F.col(label_col).isNotNull()
        & s.isNotNull()
        & (s >= 0)
        & (s <= int(score_den))
    ).select(
        *grp,
        F.least(
            F.expr(
                f"CAST({score_col} AS BIGINT) * {int(n_bins)}"
                f" div {int(score_den)}"
            ),
            F.lit(int(n_bins) - 1).cast("long"),
        ).alias("bin"),
        s.alias("__s"),
        (F.col(label_col) != 0).cast("long").alias("__y"),
    )
    agg = base.groupBy(*grp, "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(F.col("__s").cast("decimal(38,0)")).alias("__ss"),
    )
    nd = F.col("n").cast("double")
    avg_conf = F.col("__ss").cast("double") / (
        nd * float(int(score_den))
    )
    frac_pos = F.col("n_pos").cast("double") / nd
    return agg.select(
        *grp,
        "bin",
        "n",
        "n_pos",
        avg_conf.alias("avg_conf"),
        frac_pos.alias("frac_pos"),
        F.abs(avg_conf - frac_pos).alias("gap"),
    )


def pass_at_k(
    df: DataFrame,
    task_col: str,
    passed_col: str,
    *,
    k: int,
) -> DataFrame:
    """Unbiased pass@k per task (Chen et al. 2021, "Evaluating Large
    Language Models Trained on Code" — the HumanEval estimator): with n
    samples and c passes for a task,

        pass@k = 1 − C(n−c, k)/C(n, k)
               = 1 − Π_{i=0..k−1} (n−c−i)/(n−i)

    The product is UNROLLED at plan-build time into k literal factors
    in fixed written order — each factor one IEEE division of exact
    BIGINT counts, the product a fixed-order chain (the NDCG
    literal-discount discipline) — so the estimate is bit-identical
    across engines and partitionings with no factorials and no overflow
    envelope. Contracts: n < k → NULL (the estimator is undefined);
    n−c < k → exactly 1.0 (every k-subset contains a pass) — emitted as
    a literal, not a product that happens to hit zero.

    Output: one row per task — ``(task_col, n_samples, n_passed,
    pass_at_k)``.

    Scale shape: one map-side-combinable aggregate keyed by task. No
    join, no window. ``k`` is bounded at 64 (expression width, far
    above the k ∈ {1, 10, 100} of practice; raise it consciously).
    """
    if k < 1 or k > 64:
        raise ValueError("pass_at_k: k must be in [1, 64]")
    base = df.filter(F.col(task_col).isNotNull()).select(
        F.col(task_col),
        (F.col(passed_col).cast("boolean") == True).cast(  # noqa: E712
            "long"
        ).alias("__p"),
    )
    agg = base.groupBy(task_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum("__p").cast("long").alias("n_passed"),
    )
    n, c = F.col("n_samples"), F.col("n_passed")
    prod = F.lit(1.0)
    for i in range(int(k)):
        prod = prod * (
            (n - c - F.lit(i)).cast("double") / (n - F.lit(i)).cast("double")
        )
    return agg.select(
        task_col,
        "n_samples",
        "n_passed",
        F.when(n < int(k), F.lit(None).cast("double"))
        .when(n - c < int(k), F.lit(1.0))
        .otherwise(F.lit(1.0) - prod)
        .alias("pass_at_k"),
    )


def majority_vote(
    df: DataFrame,
    task_col: str,
    answer_col: str,
) -> DataFrame:
    """Self-consistency aggregation (Wang et al. 2023, "Self-Consistency
    Improves Chain of Thought Reasoning"): per task, the modal answer
    over sampled generations, its vote count, and the agreement rate —
    the reduction step of sample-k-take-majority eval and of
    majority-vote label aggregation over annotators.

    Deterministic tie-break: equal vote counts resolve to the SMALLEST
    answer string (a lexicographic struct-min over (−votes, answer) —
    the :func:`~.dedup` max-by discipline), so the winner is a pure
    function of the data, never of partition order. NULL answers are
    excluded from voting (an abstention is not a candidate).

    Output: one row per task — ``(task_col, n_samples, n_distinct,
    answer, n_votes, agreement)`` with ``agreement = n_votes /
    n_samples``.

    Scale shape: one (task, answer) aggregate with map-side combine,
    then one re-aggregate to the task grain carrying the struct-min —
    two keyed aggregates total, no window, no join.
    """
    base = df.filter(
        F.col(task_col).isNotNull() & F.col(answer_col).isNotNull()
    ).select(
        F.col(task_col), F.col(answer_col).cast("string").alias("__a")
    )
    votes = base.groupBy(task_col, "__a").agg(
        F.count(F.lit(1)).cast("long").alias("__v")
    )
    per_task = votes.groupBy(task_col).agg(
        F.sum("__v").cast("long").alias("n_samples"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.min(
            F.struct((-F.col("__v")).alias("nv"), F.col("__a").alias("a"))
        ).alias("__win"),
    )
    return per_task.select(
        task_col,
        "n_samples",
        "n_distinct",
        F.col("__win.a").alias("answer"),
        (-F.col("__win.nv")).cast("long").alias("n_votes"),
        (
            (-F.col("__win.nv")).cast("double")
            / F.col("n_samples").cast("double")
        ).alias("agreement"),
    )


def winrate_wilson(
    df: DataFrame,
    model_a_col: str,
    model_b_col: str,
    win_col: str,
    *,
    z: float = 1.96,
) -> DataFrame:
    """Pairwise win rates with Wilson score intervals (Wilson 1927) —
    the preference-data scoreboard: per ordered (model_a, model_b)
    pair, A's win rate over their head-to-head comparisons and the
    interval that keeps small-n pairs honest (a 2/2 record is not a
    sure thing; Wilson says so, the raw rate does not).

    With p̂ = w/n and literal z, both bounds are the fixed written-order
    expression

        (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)

    — counts exact BIGINTs, every float step a single IEEE operation
    (divisions, one correctly-rounded sqrt), so the bounds are
    bit-identical across engines and partitionings. NULL win flags are
    excluded from both w and n (an unjudged comparison is not a loss).

    Output: one row per observed ordered pair — ``(model_a, model_b,
    n, wins, winrate, wilson_lo, wilson_hi)``.

    Scale shape: one map-side-combinable aggregate keyed by the pair.
    No join, no window.
    """
    if z <= 0:
        raise ValueError("winrate_wilson: z must be > 0")
    base = df.filter(
        F.col(model_a_col).isNotNull()
        & F.col(model_b_col).isNotNull()
        & F.col(win_col).isNotNull()
    ).select(
        F.col(model_a_col).alias("model_a"),
        F.col(model_b_col).alias("model_b"),
        (F.col(win_col).cast("boolean") == True).cast(  # noqa: E712
            "long"
        ).alias("__w"),
    )
    agg = base.groupBy("model_a", "model_b").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__w").cast("long").alias("wins"),
    )
    nd = F.col("n").cast("double")
    p = F.col("wins").cast("double") / nd
    zz = float(z) * float(z)
    denom = 1.0 + F.lit(zz) / nd
    center = p + F.lit(zz) / (2.0 * nd)
    half = F.lit(float(z)) * F.sqrt(
        p * (1.0 - p) / nd + F.lit(zz) / (4.0 * nd * nd)
    )
    return agg.select(
        "model_a",
        "model_b",
        "n",
        "wins",
        p.alias("winrate"),
        ((center - half) / denom).alias("wilson_lo"),
        ((center + half) / denom).alias("wilson_hi"),
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    label_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) — chance-corrected agreement for
    ANY number of raters WITH missing ratings (Krippendorff 1970), the
    reliability statistic annotation projects reach for when
    :func:`cohens_kappa`'s two-complete-raters assumption breaks: real
    labeling queues assign each item to a varying subset of the panel.

    Long input: one row per (item, rater, label); NULL labels are
    abstentions and drop. With per-item category counts n_uc, item
    totals n_u (items with n_u >= 2 only), grand totals n = SUM n_u and
    per-category n_c, nominal alpha is

        alpha = 1 - (n-1) * SUM_u [ (n_u^2 - SUM_c n_uc^2) / (n_u-1) ]
                    / (n^2 - SUM_c n_c^2)

    Exactness: the only non-integer pieces are the per-item 1/(n_u-1)
    weights. Items are grouped by their rating count v = n_u (a frame
    bounded by the PANEL size, not the data), each group's disagreement
    sum S_v is integer-exact, and the rational sum SUM_v S_v/(v-1) is
    cleared to a single fraction over P = PROD over distinct v of (v-1):
    numerator SUM_v S_v * (P/(v-1)) — every term an exact integer
    because P is divisible by each (v-1). One final double division.
    P is computed with the engines' float ``product`` aggregate, exact
    below 2^53 — panels up to ~18 raters (P for distinct v-1 in 1..17
    is 17! ~ 3.6e14 < 2^53). ENFORCED at runtime, not just documented:
    when P >= 2^53 the clearing is no longer integer-exact, so alpha is
    NULL (the intermediate float products only grow — every factor
    v-1 >= 1 — so the final P is the max and the single check covers
    every step).

    Output: one row ``(n_items, n_ratings, n_categories, alpha)``;
    alpha is NULL when the expected disagreement is zero (all ratings
    one category) or no item has two ratings.

    Scale shape: two keyed aggregates over the ratings (per-(item,cat),
    then per-item), a panel-bounded per-v aggregate, a category-alphabet
    aggregate, and singleton cross-joins to assemble the scalars — no
    window, no data-sized join; everything map-side combinable.
    """
    base = df.filter(
        F.col(item_col).isNotNull()
        & F.col(rater_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(item_col).alias("__i"),
        F.col(label_col).cast("string").alias("__c"),
    )
    per_ic = base.groupBy("__i", "__c").agg(
        F.count(F.lit(1)).cast("long").alias("__nuc")
    )
    per_item = per_ic.groupBy("__i").agg(
        F.sum("__nuc").alias("__nu"),
        F.sum(F.col("__nuc") * F.col("__nuc")).alias("__s2"),
    ).filter(F.col("__nu") >= 2)
    # Panel-bounded: one row per distinct rating count v <= #raters.
    per_v = per_item.groupBy(F.col("__nu").alias("__v")).agg(
        F.sum(F.col("__nu") * F.col("__nu") - F.col("__s2"))
        .cast("decimal(38,0)")
        .alias("__sv"),
        F.count(F.lit(1)).cast("long").alias("__items"),
        F.sum("__nu").cast("decimal(38,0)").alias("__nv"),
    )
    # P = PROD (v-1) over DISTINCT v: float product of small integers,
    # exact below 2^53 (panel <= ~18 raters).
    pprod = per_v.agg(
        F.product(F.col("__v") - F.lit(1)).cast("decimal(38,0)").alias("__p"),
        F.sum("__sv").alias("__sv_tot"),
        F.sum("__items").alias("__n_items"),
        F.sum("__nv").alias("__n"),
    )
    num = (
        per_v.crossJoin(F.broadcast(pprod.select("__p")))
        .select(
            (
                F.col("__sv")
                * (F.col("__p") / (F.col("__v") - F.lit(1)).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
            ).alias("__term")
        )
        .agg(F.sum("__term").alias("__num"))
    )
    # Per-category totals over the n_u >= 2 items only (the statistic's
    # universe): category alphabet frame.
    cat = (
        per_ic.join(per_item.select("__i"), "__i")
        .groupBy("__c")
        .agg(F.sum("__nuc").cast("decimal(38,0)").alias("__nc"))
    )
    cat_tot = cat.agg(
        F.sum(F.col("__nc") * F.col("__nc")).alias("__sum_nc2"),
        F.count(F.lit(1)).cast("long").alias("__n_categories"),
    )
    scal = (
        pprod.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(cat_tot))
    )
    n = F.col("__n")
    den = F.col("__p") * (n * n - F.col("__sum_nc2"))
    alpha = F.when(
        (den != 0)
        & (F.col("__n_items") > 0)
        # exactness guard: P must be float-exact for the integer
        # clearing to hold
        & (F.col("__p") < F.lit(2.0 ** 53).cast("decimal(38,0)")),
        F.lit(1.0)
        - (n - 1).cast("double")
        * F.col("__num").cast("double")
        / den.cast("double"),
    )
    return scal.select(
        F.coalesce(F.col("__n_items"), F.lit(0).cast("long")).alias("n_items"),
        F.coalesce(n.cast("long"), F.lit(0).cast("long")).alias("n_ratings"),
        F.coalesce(
            F.col("__n_categories"), F.lit(0).cast("long")
        ).alias("n_categories"),
        alpha.alias("alpha"),
    )


def confident_joint(
    df: DataFrame,
    label_col: str,
    score_col: str,
    *,
    scale: int = 2,
) -> DataFrame:
    """Confident-learning joint counts (Northcutt et al. 2021,
    "Confident Learning") specialized to a one-dimensional model score —
    the label-noise audit for classifier-labeled corpora: how many
    examples GIVEN class c does the model's own confidence assign to
    class k?

    Per class k, the confidence threshold t_k is the mean score of the
    examples labeled k (the paper's class-conditional threshold). An
    example (given c, score s) is counted in cell (c, k) for the
    highest-threshold class k whose threshold it clears (s >= t_k);
    an example clearing no threshold stays on its diagonal (c, c).
    Off-diagonal mass = suspected label errors.

    Exactness: scores are cast to DECIMAL(38,``scale``) and thresholds
    are never materialized as divisions — "s >= sum_k/count_k" is
    compared as ``s * count_k >= sum_k``, and the classes' threshold
    ORDER is an integer rank from pairwise cross-multiplied comparisons
    (``sum_j * count_k > sum_k * count_j``, class name as the exact-tie
    break) over the alphabet-squared frame — every comparison integer,
    the whole statistic bit-identical across engines and partitionings.

    Output: one row per observed (given_label, suggested_label) with
    ``n_examples``; off-diagonal rows are the noise report.

    Scale shape: the per-class (sum, count, rank) frame is
    ALPHABET-sized (its pairwise rank an alphabet² self-join of a tiny
    frame) and broadcast back; each example meets the tiny frame once
    (|classes| candidates per example, bounded by the alphabet, never
    data x data), takes an integer max_by, and re-aggregates. Two
    data-sized shuffles total (class agg, final cell agg).
    """
    dec = f"decimal(38,{int(scale)})"
    base = df.filter(
        F.col(label_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(label_col).cast("string").alias("__given"),
        F.col(score_col).cast(dec).alias("__s"),
    )
    cls = base.groupBy(F.col("__given").alias("__k")).agg(
        F.sum("__s").alias("__sum"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__cnt"),
    )
    a, b = cls.alias("a"), cls.alias("b")
    # Integer threshold rank: #classes strictly below k in the exact
    # (sum/cnt, name) order. Alphabet-squared join of an alphabet-sized
    # frame — O(|classes|^2) rows, nowhere near the data.
    lower = (
        F.col("b.__sum") * F.col("a.__cnt") < F.col("a.__sum") * F.col("b.__cnt")
    ) | (
        (F.col("b.__sum") * F.col("a.__cnt") == F.col("a.__sum") * F.col("b.__cnt"))
        & (F.col("b.__k") < F.col("a.__k"))
    )
    ranked = (
        a.join(F.broadcast(b), F.col("a.__k") != F.col("b.__k"), "left")
        .groupBy(F.col("a.__k").alias("__k"))
        .agg(F.sum(F.when(lower, 1).otherwise(0)).cast("long").alias("__rank"))
        .join(cls, "__k")
    )
    cand = base.crossJoin(F.broadcast(ranked)).filter(
        F.col("__s") * F.col("__cnt") >= F.col("__sum")
    )
    picked = cand.groupBy("__given", "__s").agg(
        F.max_by("__k", "__rank").alias("__sugg")
    )
    counted = base.groupBy("__given", "__s").agg(
        F.count(F.lit(1)).cast("long").alias("__m")
    )
    return (
        counted.join(picked, ["__given", "__s"], "left")
        .select(
            "__given",
            F.coalesce("__sugg", F.col("__given")).alias("__sugg"),
            "__m",
        )
        .groupBy(
            F.col("__given").alias("given_label"),
            F.col("__sugg").alias("suggested_label"),
        )
        .agg(F.sum("__m").alias("n_examples"))
    )
