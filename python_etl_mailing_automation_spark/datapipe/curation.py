"""Corpus curation pipeline — the datapipe flagship composition.

The training-data analog of the mailing pipeline: quality-gate documents,
drop exact duplicates (keep the min-id representative), drop near
duplicates found by MinHash+LSH (keep the smaller id of each verified
pair), and emit the surviving corpus with its quality metrics and
fingerprint. This is the standard curation recipe (quality → exact dedup
→ fuzzy dedup) expressed as one lazy plan.

Scale: quality scoring and fingerprints are scan-speed column algebra;
exact dedup shuffles on a 32-byte digest; the near-dup stage shuffles on
uniform LSH band keys and verifies only candidates (datapipe/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..detach import detach, held
from .dedup import jaccard_on_pairs, lsh_candidate_pairs, minhash_signatures
from .text import doc_fingerprint, normalize_text, quality_score


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stop_ratio: float = 0.5,
    near_dup_jaccard: float = 0.8,
) -> DataFrame:
    """Return the curated corpus:
    ``(doc_id, n_tokens, stop_ratio, fingerprint)``.

    Stages: quality gate → exact dedup (min-id representative per md5) →
    near-dup removal (MinHash+LSH candidates, exact-Jaccard verified at
    ``near_dup_jaccard``; the larger id of each pair drops).
    """
    scored = quality_score(
        docs, text_col, max_stop_ratio=max_stop_ratio, min_tokens=min_tokens
    )
    quality = scored.filter(F.col("is_quality") == 1)

    # Exact dedup: keep the min id per content digest.
    reps = quality.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(id_col).alias("__keep")
    )
    exact = quality.join(
        reps,
        on=[
            F.md5(F.col(text_col)) == F.col("__h"),
            F.col(id_col) == F.col("__keep"),
        ],
    ).drop("__h", "__keep")

    # Near-dup removal among the survivors.
    sig = minhash_signatures(exact, id_col=id_col, text_col=text_col)
    verified = jaccard_on_pairs(
        lsh_candidate_pairs(sig, id_col=id_col), exact, id_col=id_col, text_col=text_col
    ).filter(F.col("jaccard") >= near_dup_jaccard)
    drop_ids = verified.select(F.col("doc_id_b").alias("__drop")).distinct()
    survivors = exact.join(
        drop_ids, on=F.col(id_col) == F.col("__drop"), how="left_anti"
    )

    return doc_fingerprint(survivors, text_col).select(
        id_col, "n_tokens", "stop_ratio", "fingerprint"
    )


def curate_documents_batch(
    docs: DataFrame,
    store: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stop_ratio: float = 0.5,
) -> DataFrame:
    """The exact tier of :func:`curate_corpus`: quality gate → canonical
    digest → exact dedup → ledger anti-join, keeping the first-ID row
    (``min(id_col)``) per digest. The min-id choice makes the output
    engine-reproducible and therefore oracle-checkable (a plain
    ``dropDuplicates`` keeps an arbitrary partition-dependent row).

    Scale shape: gate + digest are scan-speed column algebra; the dedup
    is one shuffle on the 32-byte digest with a map-side-combined min;
    the ledger anti-join shuffles only the survivors against the
    distinct-digest store.
    """
    gated = quality_score(
        docs, text_col, min_tokens=min_tokens, max_stop_ratio=max_stop_ratio
    ).filter(F.col("is_quality") == 1)
    normalized = normalize_text(gated, text_col)
    reps = normalized.groupBy("norm_digest").agg(F.min(id_col).alias("__keep"))
    first = normalized.join(
        reps.withColumnRenamed("norm_digest", "__dg"),
        on=[
            normalized["norm_digest"] == F.col("__dg"),
            F.col(id_col) == F.col("__keep"),
        ],
    ).drop("__dg", "__keep")
    if store is not None:
        first = first.join(
            store.select("norm_digest").distinct(), on="norm_digest", how="left_anti"
        )
    return first


def greedy_set_cover(doc_facets: DataFrame, *, k: int) -> DataFrame:
    """Coverage-maximizing document selection (greedy set cover /
    facility location) over ``(doc_id, facet)`` rows: pick ``k``
    documents one at a time, each the
    one adding the most NOT-YET-COVERED facets (shingles, n-grams,
    topics, entities) — the classic submodular-curation baseline for
    "which k documents summarize this corpus's diversity", with the
    standard (1 - 1/e) greedy guarantee. Deduplication removes copies;
    THIS removes redundancy.

    Deterministic: ties break to the SMALLEST doc id (a distributed
    top-1 ordered by gain DESC, id ASC — type-agnostic, so string or
    numeric ids both work and the output id column keeps the input's
    exact type), so the selection is a function of the data alone and
    the oracle replays the same k rounds. Returns one row per round:
    ``(round, doc_id, gain, covered_total)`` with gain = newly covered
    facets and covered_total the running union size.

    Scale shape: the REMAINING (not-yet-covered) pair frame is the
    loop state; each round subtracts just the winner's facets from it
    with one BROADCAST left-anti join — the winner's facet list is one
    document's worth, so the data-sized side never shuffles (round 10:
    the previous shape anti-joined the full pair table against the
    cumulative covered frame every round, a per-round shuffle of
    everything; same output by induction — though at sf0.1 the win is
    modest, 17.4 -> 16.3 s min-of-3 same boot, because the battery
    query's wall clock is dominated by building the shingle-pair input
    itself, not the rounds: the 8 rounds together measure ~6 s) — then
    one map-side-combinable count per doc and a 1-ROW
    argmax collect (bounded driver traffic — k rows total, the
    Lloyd-fit discipline); remaining is re-checkpointed per round, so
    lineage stays flat. k is a selection budget (tens), not data-sized.
    Exact greedy IS sequential in k — that is the algorithm's
    contract, not a partitioning accident; the per-round work is fully
    distributed. Rows with NULL id or facet are dropped; duplicate
    (doc, facet) pairs collapse before counting.
    """
    if k < 1:
        raise ValueError("greedy_set_cover: k must be >= 1")
    pairs = (
        doc_facets.select(F.col("doc_id").alias("__d"), F.col("facet").alias("__f"))
        .filter(F.col("__d").isNotNull() & F.col("__f").isNotNull())
        .distinct()
    )
    spark = pairs.sparkSession
    with held() as hold:
        pairs = hold(pairs)
        out_rows = []
        covered_total = 0
        remaining = pairs
        for rnd in range(1, k + 1):
            gains = remaining.groupBy("__d").agg(
                F.count(F.lit(1)).cast("long").alias("__g")
            )
            # Distributed top-1 (TakeOrderedAndProject): max gain,
            # smallest id at ties — comparison-based, so the id may be
            # any orderable type, not just numeric.
            top = gains.orderBy(
                F.col("__g").desc(), F.col("__d").asc()
            ).limit(1).collect()
            if not top or top[0]["__g"] == 0:
                break  # everything coverable is covered
            winner, gain = top[0]["__d"], top[0]["__g"]
            covered_total += gain
            out_rows.append((rnd, winner, gain, covered_total))
            # Subtract ONLY the winner's facets: remaining already
            # excludes every earlier round's facets, so the anti-join
            # right side is one document's facet list — broadcast it
            # and the data-sized left side never shuffles.
            if rnd < k:
                win_facets = remaining.filter(
                    F.col("__d") == winner
                ).select("__f")
                remaining = detach(
                    remaining.join(F.broadcast(win_facets), "__f", "left_anti")
                )
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("round", T.LongType()),
                T.StructField("doc_id", pairs.schema["__d"].dataType),
                T.StructField("gain", T.LongType()),
                T.StructField("covered_total", T.LongType()),
            ]
        )
        return spark.createDataFrame(out_rows, schema)


def token_waterfill(
    df: DataFrame,
    *,
    group_col: str = "source",
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Budget-constrained uniform capping ("waterfilling") of a corpus
    mixture: find the largest integer cap ``C`` such that

        Σ_g min(w_g, C) ≤ budget

    and report each group's selected weight ``min(w_g, C)`` — the
    standard mixture-balancing rule (no source may dominate the token
    budget; small sources keep everything, large sources are cut to
    the common water level). The exact-integer cousin of
    :func:`~.sampling.temperature_mixture` (that reshapes by a power
    law; this imposes a hard ceiling).

    With groups sorted ascending by weight and ``P_i`` the prefix sum
    of the first i weights, the water level in segment i (where the
    i smallest groups keep everything and the remaining k−i are
    capped) is ``C_i = (budget − P_i) div (k − i)``, valid when
    ``w_i ≤ C_i < w_{i+1}``; all arithmetic integer, so the cap is a
    pure function of the inputs. If even C = max weight fits, nothing
    is cut (cap = max w). A budget below k·min(w) caps everything at
    ``budget div k`` (possibly 0). The undistributed remainder
    ``budget − Σ selected`` is REPORTED, never silently spread
    (deterministic contract; spread policies differ per pipeline).

    Output: one row per group — ``(group_col, weight, cap, selected,
    cut, leftover)``; ``cap``/``leftover`` are corpus-level constants
    repeated per row for downstream convenience.

    Scale shape: ONE map-side-combinable aggregate collapses the data
    to the group grain (k rows, bounded by the source alphabet);
    everything after — the sort, prefix sums, and segment test — is a
    window over that k-row frame (bounded by construction, the
    sanctioned-small class) plus one broadcast of the single cap row.
    """
    if budget < 0:
        raise ValueError("token_waterfill: budget must be >= 0")
    w = F.col(weight_col).cast("long")
    groups = df.groupBy(group_col).agg(F.sum(w).alias("__w")).filter(
        F.col("__w").isNotNull()
    )
    # Bounded-by-construction window: one row per group. Partitioning
    # by the corpus-constant ``__k`` column executes as one partition
    # (every row carries the same value) exactly like an unpartitioned
    # window, but DECLARES the single-partition choice in the plan — a
    # literal spec would be constant-folded away and still trip the
    # WindowExec scale warning, which stays reserved for frames that
    # are NOT bounded; this one is the k-row source alphabet by the
    # aggregate above. k/wmax corpus constants come from a one-row
    # aggregate + broadcast (the sanctioned one-row idiom), not global
    # windows.
    from pyspark.sql import Window as _W

    ww = _W.partitionBy(F.col("__k")).orderBy(
        F.col("__w").asc(), F.col(group_col).asc()
    )
    kw = groups.agg(
        F.count(F.lit(1)).alias("__k"), F.max("__w").alias("__wmax")
    )
    ranked = groups.crossJoin(F.broadcast(kw)).select(
        group_col,
        "__w",
        "__k",
        "__wmax",
        F.row_number().over(ww).alias("__i"),
        F.sum("__w").over(
            ww.rowsBetween(_W.unboundedPreceding, _W.currentRow)
        ).alias("__pfx"),
    )
    # Segment i (1-based): the i-1 smallest keep all, the rest get
    # C_i = (budget - prefix_{i-1}) div (k - i + 1); the cap is the
    # level from the FIRST segment whose level the segment's own
    # weight does not undershoot.
    lvl = F.floor(
        (F.lit(int(budget)) - (F.col("__pfx") - F.col("__w")))
        / (F.col("__k") - F.col("__i") + 1)
    ).cast("long")
    # The valid segment is the SMALLEST i whose level undershoots its
    # own weight (later segments produce spurious — possibly negative —
    # levels once the budget is already exhausted by construction);
    # lexicographic struct-min picks it. No valid segment means even
    # the largest weight fits uncapped.
    cand = ranked.select(
        F.when(
            lvl < F.col("__w"),
            F.struct(F.col("__i").alias("i"), lvl.alias("lvl")),
        ).alias("__cand"),
        "__wmax",
    )
    cap_row = cand.agg(
        F.coalesce(
            F.min("__cand").getField("lvl"), F.max("__wmax")
        ).cast("long").alias("cap")
    )
    out = groups.crossJoin(F.broadcast(cap_row)).select(
        group_col,
        F.col("__w").alias("weight"),
        F.greatest(F.col("cap"), F.lit(0).cast("long")).alias("cap"),
        F.least(
            F.col("__w"), F.greatest(F.col("cap"), F.lit(0).cast("long"))
        ).alias("selected"),
        (
            F.col("__w")
            - F.least(
                F.col("__w"),
                F.greatest(F.col("cap"), F.lit(0).cast("long")),
            )
        ).alias("cut"),
    )
    tot = out.agg(
        (F.lit(int(budget)) - F.sum("selected")).cast("long").alias(
            "leftover"
        )
    )
    return out.crossJoin(F.broadcast(tot))
