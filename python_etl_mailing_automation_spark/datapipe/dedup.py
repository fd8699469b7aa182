"""Deduplication families for document-scale data (exact, MinHash+LSH,
SimHash, n-gram Jaccard).

Scale design:
- **Exact** is a hash-groupBy — one shuffle on the digest, not the text.
- **MinHash+LSH** avoids the O(n²) pair explosion: signatures are per-row
  column algebra; candidate generation is a self-equi-join on band values
  (shuffle keyed by band), so only same-bucket pairs materialize. At 100 TB
  the band join is the only shuffle and its key space is uniform.
- **SimHash** is explode → integer aggregate → bit-pack: one shuffle on
  doc_id with map-side partial aggregation.
- **n-gram Jaccard** is exact pair verification; always run it *blocked*
  (here: by a blocking key) — unblocked pairwise is quadratic and is the
  one thing this module refuses to encourage.

Cross-engine determinism: all hashing is md5 (bit-identical everywhere);
min-hash "permutations" are md5 with a per-hash salt, ordered
lexicographically on the hex digest — a valid universal-hash family for
MinHash and reproducible across engines (unlike murmur/xxhash builtins,
which differ per engine).
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..detach import cache_once, detach, held

from .text import tokens_of


def with_tokens(df: DataFrame, text_col: str = "text", out: str = "toks") -> DataFrame:
    return df.withColumn(out, tokens_of(text_col))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles; fewer than ``n`` tokens → empty list."""
    concat_args = ", ".join(f"t[i+{j}]" for j in range(n))
    expr = (
        f"transform(sequence(0, size(t) - {n}), i -> concat_ws(' ', {concat_args}))"
    )
    # Bind the token column under a stable name for the SQL lambda.
    return F.when(
        F.size(toks) >= n,
        F.expr(expr.replace("t[", "__sh_toks[").replace("size(t)", "size(__sh_toks)")),
    ).otherwise(F.array().cast("array<string>"))


def with_shingles(
    df: DataFrame, toks_col: str = "toks", out: str = "shingles", n: int = 3
) -> DataFrame:
    inner = df.withColumnRenamed(toks_col, "__sh_toks")
    return inner.withColumn(out, shingles_of(F.col("__sh_toks"), n)).withColumnRenamed(
        "__sh_toks", toks_col
    )


def exploded_shingles(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    out: str = "shingle",
) -> DataFrame:
    """``(id, shingle)`` rows, one per shingle OCCURRENCE — the safe
    explode shape for shingles.

    NEVER ``F.explode`` a *named* shingles column: for an attribute
    generator, ``InferFiltersFromGenerate`` adds a ``size(col) > 0``
    filter, and predicate pushdown then substitutes the attribute's
    defining expression into it — the whole tokenize → shingle chain
    re-runs per row in an interpreted (non-codegen) Filter, with the
    lambda re-tokenizing per ELEMENT (measured 3.6 s vs 0.6 s on the
    sf0.1 documents table, ~8 s of the set_cover battery query). Here
    the generator is the inline shingle expression over a materialized
    tokens attribute: complex generators are exempt from filter
    inference, and the tokens projection below the Generate survives
    because the reference is non-cheap and multiply used."""
    base = with_tokens(df, text_col).select(
        F.col(id_col), F.col("toks").alias("__sh_toks")
    )
    return base.select(
        F.col(id_col),
        F.explode(shingles_of(F.col("__sh_toks"), n)).alias(out),
    )


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group by content digest, keep the min id as the
    representative, report group sizes. One shuffle on the 32-byte digest
    regardless of document size."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_hash(shingle: Column, salt: int) -> Column:
    """One member of the md5-salted hash family."""
    return F.md5(F.concat(shingle, F.lit(f"|{salt}")))


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature + LSH band keys per document.

    Adds ``mh_1..mh_k`` (lexicographic-min salted md5 over shingles) and
    ``band_1..band_{k/band_size}`` (md5 of the band's minhashes). Documents
    agreeing on any band are near-dup candidates. Docs with fewer than
    ``shingle_n`` tokens get null signatures (nothing to hash).
    """
    assert num_hashes % band_size == 0
    out = with_shingles(with_tokens(df, text_col), n=shingle_n)
    for j in range(1, num_hashes + 1):
        out = out.withColumn(
            f"mh_{j}",
            F.array_min(F.transform(F.col("shingles"), lambda s: minhash_hash(s, j))),  # noqa: B023
        )
    n_bands = num_hashes // band_size
    for b in range(1, n_bands + 1):
        members = [F.col(f"mh_{(b - 1) * band_size + i + 1}") for i in range(band_size)]
        glue: list[Column] = []
        for i, m in enumerate(members):
            if i:
                glue.append(F.lit("|"))
            glue.append(m)
        # F.concat null-propagates: any null minhash → null band (too-short
        # docs never become candidates).
        out = out.withColumn(f"band_{b}", F.md5(F.concat(*glue)))
    return out.drop("toks", "shingles")


def band_entries(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exploded ``(id, band_idx, band_val)`` rows from a
    :func:`minhash_signatures` frame (null bands — too-short docs —
    dropped): the join key of every LSH bucket join, shared by the
    within-corpus pair search below and the cross-corpus
    decontamination join (:mod:`.contamination`)."""
    band_cols = [c for c in signatures.columns if c.startswith("band_")]
    return (
        signatures.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.col(c).alias("band_val"),
                        )
                        for i, c in enumerate(band_cols)
                    ]
                )
            ).alias("b"),
        )
        .select(id_col, "b.band_idx", "b.band_val")
        .filter(F.col("band_val").isNotNull())
    )


def lsh_candidate_pairs(signatures: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """Bucket-join LSH: distinct (a, b) id pairs (a < b) sharing any band.

    The only shuffle is keyed on (band_index, band_value) — uniform md5
    space, no skew. Pair count is bounded by bucket sizes, not n².

    The (id, band) entries are cached before the self-join: both join
    sides share the same expensive upstream (tokenize → shingle → 6
    salted md5 mins per doc), and without the cache Spark computes that
    branch twice. Entries are tiny (id + band hash per band) regardless
    of document size. Cache lifetime: released by the ContextCleaner
    once the returned frame is garbage-collected (no unpersist hook can
    exist while the lazy result still needs the cache).
    """
    # sessions running several LSH compositions over the same corpus
    # (pair search, CC closure, recall calibration) build CANONICALLY
    # IDENTICAL entry plans — cache_once skips the re-registration
    entries = cache_once(band_entries(signatures, id_col))
    a = entries.alias("a")
    b = entries.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band_idx") == F.col("b.band_idx"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_id_a"),
            F.col(f"b.{id_col}").alias("doc_id_b"),
        )
        .distinct()
    )


def jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    right_docs: DataFrame | None = None,
    left_col: str = "doc_id_a",
    right_col: str = "doc_id_b",
) -> DataFrame:
    """Attach exact Jaccard similarity (over distinct tokens) to
    candidate id pairs.

    Within-corpus by default (both pair sides resolve against ``docs``);
    pass ``right_docs`` for CROSS-corpus pairs (e.g. train×benchmark
    decontamination) where the two id columns come from different
    frames. ``left_col``/``right_col`` name the pair columns."""

    def elem_sets(frame: DataFrame) -> DataFrame:
        return with_tokens(frame, text_col).select(
            F.col(id_col), F.array_distinct(F.col("toks")).alias("elems")
        )

    sets_l = elem_sets(docs)
    sets_r = elem_sets(right_docs) if right_docs is not None else sets_l
    a = sets_l.select(F.col(id_col).alias(left_col), F.col("elems").alias("ea"))
    b = sets_r.select(F.col(id_col).alias(right_col), F.col("elems").alias("eb"))
    joined = pairs.join(a, left_col).join(b, right_col)
    inter = F.size(F.filter(F.col("ea"), lambda x: F.array_contains(F.col("eb"), x)))
    union = F.size(F.col("ea")) + F.size(F.col("eb")) - inter
    return joined.withColumn(
        "jaccard", inter.cast("double") / union.cast("double")
    ).select(left_col, right_col, "jaccard")


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    block_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard over *blocked* pairs (same ``block_col``).

    Quadratic only within a block — the caller chooses a blocking key that
    keeps blocks small (language, length bucket, LSH band, …).

    Execution shape: an inverted-index join, NOT a pair join over shingle
    arrays. Distinct shingles are exploded and self-equi-joined on
    ``(block, shingle)``, so each shared shingle is one joined row and the
    intersection is a ``count(*)`` — per-pair work is O(shared shingles),
    never the O(|A|·|B|) per-pair array scan (which measured 200+ s at
    sf0.1 where this shape takes ~2 s). Array payloads never enter a
    shuffle; only (id, id) rows do. With ``min_jaccard > 0`` the output
    is only overlapping pairs (the scale path — comparisons are bounded
    by shingle document frequency); ``min_jaccard <= 0`` honours the
    full contract by enumerating the block's zero-overlap pairs too,
    from an id+count-only self-join (cheap rows, no arrays).
    """
    from .text import spread_for_explode

    base = with_shingles(
        with_tokens(spread_for_explode(docs, id_col), text_col), n=shingle_n
    )
    # The distinct-shingle expression is inlined into BOTH projections
    # rather than materialized as an intermediate `elems` column: with an
    # intermediate column, InferFiltersFromGenerate derives a
    # `size(elems) > 0` filter and predicate pushdown carries the whole
    # shingle pipeline below the rebalance exchange — i.e. the expensive
    # expression runs on the UNSPREAD scan's few cores (measured 35×
    # slower on a one-split table). Inline, the inferred filter never
    # forms and the shingle work stays above the exchange.
    elems = F.array_distinct(F.col("shingles"))
    counts = base.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        F.size(elems).alias("__n_sh"),
    )
    ex = base.select(
        F.col(id_col), F.col(block_col).alias("__blk"),
        F.explode(elems).alias("__sh"),
    )
    inter = (
        ex.select(
            F.col(id_col).alias("doc_id_a"), F.col("__blk"), F.col("__sh")
        )
        .join(
            ex.select(
                F.col(id_col).alias("doc_id_b"),
                F.col("__blk").alias("__blk_b"),
                F.col("__sh").alias("__sh_b"),
            ),
            on=[
                F.col("__blk") == F.col("__blk_b"),
                F.col("__sh") == F.col("__sh_b"),
                F.col("doc_id_a") < F.col("doc_id_b"),
            ],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    ca = counts.select(
        F.col(id_col).alias("doc_id_a"), F.col("__blk"), F.col("__n_sh").alias("__na")
    )
    cb = counts.select(
        F.col(id_col).alias("doc_id_b"),
        F.col("__blk").alias("__blk_b"),
        F.col("__n_sh").alias("__nb"),
    )
    if min_jaccard > 0:
        pairs = inter.join(
            ca.drop("__blk"), "doc_id_a"
        ).join(cb.drop("__blk_b"), "doc_id_b")
    else:
        # Zero-overlap pairs are part of the contract at this threshold:
        # enumerate the block cross-pairs over (id, count) rows only.
        pairs = (
            ca.join(
                cb,
                on=[
                    F.col("__blk") == F.col("__blk_b"),
                    F.col("doc_id_a") < F.col("doc_id_b"),
                ],
            )
            .join(inter, ["doc_id_a", "doc_id_b"], "left")
            .withColumn("__inter", F.coalesce(F.col("__inter"), F.lit(0)))
        )
    union = F.col("__na") + F.col("__nb") - F.col("__inter")
    return (
        pairs.withColumn(
            "jaccard", F.col("__inter").cast("double") / union.cast("double")
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    id_a: str = "doc_id_a",
    id_b: str = "doc_id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list: every document
    gets a ``cluster_id`` = the minimum doc id reachable through the
    pair graph (its own id when it has no duplicates), so keeping the
    rows whose id equals their ``cluster_id`` keeps one document per
    cluster.

    Algorithm: iterative min-label propagation with a DELTA frontier —
    round 1 propagates from every vertex; each later round propagates
    only from the labels that CHANGED last round (sound for monotone
    min-propagation: labels never increase, so an unchanged neighbor's
    contribution was already absorbed the round it last changed). Near-
    dup graphs converge front-heavy (measured at 10×-scale: 45 377
    changes in round 1, then 298 / 365 / 33 / 1 / 0), so rounds 2+ join
    the full corpus against a few-hundred-row frontier — AQE turns both
    per-round joins into broadcasts with NO shuffle of the corpus-sized
    frames (measured 36 s → 12 s for the 6-round closure at sf1.0).
    Rounds = graph diameter; LSH duplicate clusters are shallow
    (near-clique bands). The symmetric edge list is pre-partitioned on
    the probe key and persisted, so non-broadcast rounds reuse its
    layout instead of re-shuffling edges every round. For adversarial
    long-chain graphs use the large-star/small-star variant (Kiveris et
    al.) — same join shape, fewer rounds; not needed for dedup-shaped
    graphs.

    Driver-side: only the per-round convergence count (an int), a
    sanctioned iterative-algorithm boundary.

    The returned frame is backed by the final round's local checkpoint
    (executor memory/disk); its blocks — like any intermediate rounds
    still referenced — are released by Spark's context cleaner once the
    frame is garbage collected.
    """
    from .text import spread_for_explode

    n_part = int(
        pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        if str(
            pairs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        ).isdigit()
        else pairs.sparkSession.sparkContext.defaultParallelism
    )
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(n_part, "dst")
    )
    log = logging.getLogger(__name__)
    with held() as hold:
        edges = hold(edges)
        labels = hold(docs.select(F.col(id_col), F.col(id_col).alias("cluster_id")))
        frontier = labels  # round 1: every vertex propagates
        for round_no in range(1, max_iterations + 1):
            neighbor_min = (
                edges.join(frontier, edges["dst"] == frontier[id_col])
                .groupBy("src")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # localCheckpoint, not persist: a persisted frame still
            # carries its full logical history, so by round k Catalyst
            # re-analyzes a k-round-deep tree — measured 1.5 s/round for
            # rounds 1-3 ballooning to 12 s by round 6 at sf1.0, all
            # driver-side planning. The checkpoint severs the plan each
            # round (constant planning cost); superseded rounds' blocks
            # are released by the context cleaner when the old frames
            # drop out of reference.
            updated = (
                labels.join(neighbor_min, labels[id_col] == neighbor_min["src"], "left")
                .select(
                    F.col(id_col),
                    F.least(
                        F.col("cluster_id"), F.coalesce(F.col("nbr_min"), F.col("cluster_id"))
                    ).alias("cluster_id"),
                    (F.col("nbr_min") < F.col("cluster_id")).alias("__changed"),
                )
                # lazy: the changed-count below materializes the
                # checkpoint and tests convergence in one job
                .transform(lambda d: detach(d, eager=False))
            )
            changed = updated.filter(F.col("__changed")).count()
            log.info("dedup_clusters round %d: %d labels changed", round_no, changed)
            labels = updated.drop("__changed")
            frontier = updated.filter(F.col("__changed")).drop("__changed")
            if changed == 0:
                break
        return labels


def dedup_clusters_star(
    docs: DataFrame,
    pairs: DataFrame,
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) over ``doc_id`` rows and ``(doc_id_a, doc_id_b)``
    pairs — same output contract as :func:`dedup_clusters` (every doc
    labeled with its component's min id), different round
    complexity: O(log² n) rounds regardless of graph DIAMETER, where
    min-label propagation needs diameter-many rounds. Use this variant
    when the duplicate graph can contain long chains (crawl rings,
    chained paraphrases); for LSH near-clique dup graphs the plain
    propagation converges in fewer, cheaper rounds.

    Round shape (both stars are the same dataframe program):
    - neighborhood min per center: one groupBy on the symmetric edge
      list, ``m(u) = min(N(u) ∪ {u})``;
    - rewire: large-star connects every neighbor ``v > u`` to ``m(u)``,
      small-star connects every neighbor ``v <= u`` plus ``u`` itself to
      ``m(u)`` — each a broadcast-friendly join of edges to the per-node
      min, emitting only (node, root) pairs, never materializing
      neighborhoods as arrays.
    - converged when the canonical edge set IS a star forest (every dst
      one src, no node on both sides) — equivalent to the textbook
      "no round changes the set" test (a star forest is a fixpoint, see
      the in-loop comment) but checkable with one skinny aggregate over
      the round's checkpointed output instead of set differences.

    Each round ends in ``localCheckpoint`` — the per-round lineage
    truncation the label-propagation loop needs for constant planning
    cost applies identically here.
    """
    log = logging.getLogger(__name__)

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _star(e: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
        sym = _sym(e)
        mins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        nbrs = sym.join(mins, "src")
        cond = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
        rewired = nbrs.filter(cond).select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        if not large:
            rewired = rewired.unionByName(mins.select("src", F.col("m").alias("dst")))
        out = rewired.filter(F.col("src") != F.col("dst")).select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        # dedup=False skips the bounding distinct (one exchange fewer):
        # safe for the INNER large-star of a round because its
        # pre-distinct output is exactly one row per input edge (each
        # canonical edge survives the dst>src filter in exactly one
        # orientation), so duplicates cannot grow the frame, and the
        # outer star's min aggregate and final distinct are
        # multiplicity-blind — the round's edge SET is unchanged.
        return out.distinct() if dedup else out

    edges = (
        pairs.select(
            F.least(F.col("doc_id_a"), F.col("doc_id_b")).alias("src"),
            F.greatest(F.col("doc_id_a"), F.col("doc_id_b")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(lambda d: detach(d, eager=True))
    )
    for round_no in range(1, max_iterations + 1):
        # lazy checkpoint: the star-forest aggregate below is the
        # round's single action — it materializes the checkpoint AND
        # answers convergence in one job (eager=True would spend a
        # separate materialization job first)
        after = detach(
            _star(_star(edges, large=True, dedup=False), large=False),
            eager=False,
        )
        edges = after
        # Convergence: stop as soon as the canonical edge set IS a star
        # forest — every dst has exactly one src and no node appears on
        # both sides. Such a set is a fixpoint of small∘large (roots are
        # component minima by canonicality, so large-star maps (u,v) to
        # itself and small-star re-emits each (u,v) from center v plus
        # the filtered (u,u) self-rows), so further rounds cannot change
        # it and the labels below are identical to running until the
        # old after==edges test passed. One skinny aggregate job over
        # the just-checkpointed frame replaces two exceptAll jobs per
        # round AND the final no-op round the equality test needed.
        non_star = (
            after.select(
                F.col("src").alias("__n"),
                F.lit(1).alias("__s"),
                F.lit(0).alias("__d"),
            )
            .unionByName(
                after.select(
                    F.col("dst").alias("__n"),
                    F.lit(0).alias("__s"),
                    F.lit(1).alias("__d"),
                )
            )
            .groupBy("__n")
            .agg(F.sum("__s").alias("__s"), F.sum("__d").alias("__d"))
            .filter(
                ((F.col("__s") > 0) & (F.col("__d") > 0)) | (F.col("__d") > 1)
            )
            .count()
        )
        log.info(
            "dedup_clusters_star round %d: %d non-star nodes", round_no, non_star
        )
        if non_star == 0:
            break
    # Converged edges are (min, node) stars: label = root, self for
    # isolated nodes. min() guards the (impossible-at-fixpoint, cheap to
    # enforce) case of a node with two roots.
    roots = edges.groupBy(F.col("dst").alias("doc_id")).agg(
        F.min("src").alias("__root")
    )
    return (
        docs.select("doc_id")
        .join(roots, "doc_id", "left")
        .select(
            F.col("doc_id"),
            F.coalesce(F.col("__root"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def simhash_16(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over tokens (md5-derived bit source).

    Per-bit weighted vote: bit k of each token's 16-bit md5 prefix votes
    +1/-1; the sign of the total sets bit k of the fingerprint. 16 bits
    keeps the demonstration query compact; production uses 64/128 by
    widening the same construction.

    Implementation: explode → one integer aggregation per doc (map-side
    partial agg), then bit-pack. Docs with zero tokens produce no row.
    """
    from .text import spread_for_explode

    toks = with_tokens(spread_for_explode(docs, id_col), text_col).select(
        F.col(id_col), F.explode(F.col("toks")).alias("tok")
    )
    # (see with_simhash16 for the zero-shuffle per-row form of the same
    # fingerprint — this explode→agg form is the reference the fused
    # form is tested against)
    hx = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("int")
    withbits = toks.withColumn("hx", hx)
    aggs = [
        F.sum(
            F.when((F.floor(F.col("hx") / (2**k)) % 2) == 1, 1).otherwise(-1)
        ).alias(f"s{k}")
        for k in range(16)
    ]
    summed = withbits.groupBy(id_col).agg(*aggs)
    packed: Column = F.lit(0)
    for k in range(16):
        packed = packed + F.when(F.col(f"s{k}") >= 0, F.lit(2**k)).otherwise(F.lit(0))
    return summed.select(F.col(id_col), packed.cast("long").alias("simhash16"))


def with_simhash16(
    df: DataFrame, *, text_col: str = "text", out_col: str = "simhash16"
) -> DataFrame:
    """Per-row SimHash-16 — the zero-shuffle form of :func:`simhash_16`.

    Same construction (each token's 16-bit md5 prefix votes ±1 per bit;
    the vote signs pack the fingerprint), but the votes fold over the
    token array IN-ROW instead of explode → groupBy: scan-speed column
    algebra, no shuffle, no join needed to attach the fingerprint to
    other per-doc signatures. Fingerprints are bit-identical to
    ``simhash_16`` (verified by test) — the only semantic difference is
    that a null-text row yields fingerprint 0 here where the explode
    form emits no row.

    The md5-prefix ints materialize once as a real projection column
    before the 16 bit-folds (Catalyst's CollapseProject keeps expensive
    multi-referenced expressions un-inlined), so each token is hashed
    once, not 16 times.
    """
    from .text import tokens_of

    hx = F.transform(
        tokens_of(text_col),
        lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int"),
    )
    out = df.withColumn("__hx16", hx)

    def _vote(bit: int):
        return lambda acc, h: acc + F.when(
            h.bitwiseAND(F.lit(bit)) != 0, F.lit(1)
        ).otherwise(F.lit(-1))

    packed: Column = F.lit(0)
    for k in range(16):
        bit = 1 << k
        s_k = F.aggregate(F.col("__hx16"), F.lit(0), _vote(bit))
        packed = packed + F.when(s_k >= 0, F.lit(bit)).otherwise(F.lit(0))
    return out.withColumn(out_col, packed.cast("long")).drop("__hx16")


def with_simhash64(
    df: DataFrame, *, text_col: str = "text", out_col: str = "simhash64"
) -> DataFrame:
    """Per-row 64-bit SimHash — the production-width form of
    :func:`with_simhash16` (Charikar 2002; Manku et al. WWW'07 use
    64-bit fingerprints for web-scale near-dup detection).

    Same construction widened: each token contributes one 64-bit
    md5-derived value (hex chars 1-8 → bits 32..63, chars 9-16 → bits
    0..31 — two exact 32-bit halves, because a single 64-bit hex parse
    overflows SIGNED bigint in both engines); every bit position gets a
    ±1 vote per token and the vote signs pack the fingerprint. Bit 63
    packs as −2^63 (two's complement sign bit): the fingerprint is a
    plain Spark/DuckDB BIGINT with identical bits, and 1<<63 is an
    overflow error in DuckDB, so the signed representation is the
    portable one.

    Zero-shuffle scan-speed column algebra like the 16-bit form, but the
    64 votes fold in ONE pass over the token array (array-of-counters
    accumulator via ``zip_with``) instead of 64 separate folds — the
    unrolled form at this width would be a 4× larger codegen unit (see
    kmeans_assign for the same lesson on literal-heavy expression trees).
    """
    from .text import tokens_of

    hx = F.transform(
        tokens_of(text_col),
        lambda t: F.struct(
            F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )
    out = df.withColumn("__hx64", hx)

    ks = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        F.col("__hx64"),
        F.transform(ks, lambda _: F.lit(0)),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                ks,
                lambda k: F.when(
                    F.shiftright(
                        F.when(k < 32, h["lo"]).otherwise(h["hi"]), 0
                    ).bitwiseAND(
                        # 2^(k mod 32) as an exact double→long power of two
                        F.pow(F.lit(2.0), (k % 32).cast("double")).cast("long")
                    )
                    != 0,
                    F.lit(1),
                ).otherwise(F.lit(-1)),
            ),
            lambda a, b: a + b,
        ),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            ks,
            lambda v, k: F.when(v < 0, F.lit(0).cast("long"))
            .when(k == 63, F.lit(-(2**63)).cast("long"))
            .otherwise(F.pow(F.lit(2.0), k.cast("double")).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )
    return out.withColumn(out_col, packed).drop("__hx64")


def simhash_hamming_pairs(
    docs: DataFrame,
    *,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-duplicate pairs: all (a, b) with
    ``hamming(simhash64(a), simhash64(b)) <= max_hamming``, a < b.

    This is the candidate generator the 64-bit fingerprint exists for
    (Manku et al. WWW'07): split the fingerprint into 4 16-bit bands —
    by pigeonhole, any two fingerprints within Hamming distance 3 agree
    EXACTLY on at least one band — so candidates come from a self-equi-
    join on ``(band_idx, band_value)``, never an all-pairs product, and
    the exact distance check ``bit_count(a XOR b) <= 3`` runs only on
    banded candidates. Exact for ``max_hamming <= 3``; a larger radius
    needs more/narrower bands (same construction).

    Band extraction is ``(fp >> 16·i) & 0xFFFF`` — arithmetic shift plus
    mask reads the sign-bit band identically in Spark and DuckDB, no
    unsigned shift needed. The banded frame is cached (it feeds both
    join sides; released by the ContextCleaner when the returned frame
    is garbage-collected — the lsh_candidate_pairs lifetime contract). Scale: band values are 16-bit, so at corpus scale each
    bucket holds ~N/65536 docs per band — the same uniform-key bucket
    join shape as the MinHash LSH path (lsh_candidate_pairs).
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError("4×16-bit banding is exact only for 0 <= max_hamming <= 3")
    from .text import spread_for_explode

    fp = with_simhash64(
        spread_for_explode(docs, id_col), text_col=text_col
    ).select(id_col, "simhash64")
    banded = fp.select(
        F.col(id_col),
        F.col("simhash64"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright(F.col("simhash64"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash64", "b.band_idx", "b.band_val")
    banded = cache_once(banded)
    a = banded.select(
        F.col(id_col).alias("doc_id_a"),
        F.col("simhash64").alias("__fp_a"),
        F.col("band_idx").alias("__bi"),
        F.col("band_val").alias("__bv"),
    )
    b = banded.select(
        F.col(id_col).alias("doc_id_b"),
        F.col("simhash64").alias("__fp_b"),
        F.col("band_idx").alias("__bi_b"),
        F.col("band_val").alias("__bv_b"),
    )
    return (
        a.join(
            b,
            on=[
                F.col("__bi") == F.col("__bi_b"),
                F.col("__bv") == F.col("__bv_b"),
                F.col("doc_id_a") < F.col("doc_id_b"),
            ],
        )
        .select("doc_id_a", "doc_id_b", "__fp_a", "__fp_b")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", "hamming")
    )


def dedup_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sep: str = "\n",
    min_docs: int = 2,
    scope_col: str | None = None,
) -> DataFrame:
    """Line-level dedup across documents (C4 §2.2 / RefinedWeb-style
    boilerplate removal): a line occurring in ``min_docs`` or more
    *distinct* documents is boilerplate (nav bars, cookie banners,
    license headers) and is removed from every document.

    ``scope_col`` switches to the CCNet/domain-scoped form: line
    frequency is counted WITHIN each scope value (domain, source,
    crawl) and a line is boilerplate only where it repeats inside its
    own scope — a license header ubiquitous on one site no longer
    deletes a legitimately popular sentence corpus-wide, and per-site
    nav chrome is caught even when globally rare. Same output schema.

    Returns one row per input document: ``id_col``, ``text_col`` (the
    cleaned text, lines re-joined on ``sep`` in original order; ``""``
    if every line was removed), ``n_lines_kept``, ``n_lines_removed``.

    Scale shape (the reason this beats a naive pairwise design):

    - ``posexplode(split(...))`` — line granularity at scan speed.
    - Line frequency is a groupBy on the line value with map-side
      partial aggregation; ``count(distinct doc)`` plans as Spark's
      two-phase expand-distinct, still combiner-friendly.
    - Only the *frequent* lines (the boilerplate set — tiny relative to
      the corpus: bounded by corpus_lines / min_docs, and in practice a
      few thousand strings) flow into the filter join. That side is
      broadcast, so the corpus-sized lines relation is filtered
      map-side with NO shuffle of the corpus.
    - Reassembly is one groupBy on the doc id; per-group state is a
      single document's lines — O(doc), never O(corpus).
    """
    # Internal string-typed scope key, NULL coalesced to a sentinel so
    # NULL-scope documents form one real scope instead of silently
    # never matching the frequency join (NULL ≠ NULL under equi-join).
    scope_keys = ["__scope"] if scope_col is not None else []
    scope_exprs = (
        [
            F.coalesce(
                F.col(scope_col).cast("string"), F.lit("\x00__null_scope")
            ).alias("__scope")
        ]
        if scope_col is not None
        else []
    )
    lines = df.select(
        *scope_exprs,
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), F.lit(sep), -1)).alias("__pos", "__line"),
    )
    freq = lines.groupBy(*scope_keys, "__line").agg(
        F.countDistinct(id_col).alias("__nd")
    )
    common = F.broadcast(freq.filter(F.col("__nd") >= min_docs))
    joined = lines.join(common, on=[*scope_keys, "__line"], how="left")
    flagged = joined.withColumn("__rm", F.col("__nd").isNotNull().cast("int"))
    rebuilt = flagged.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__rm") == 0,
                            F.struct(F.col("__pos").alias("p"), F.col("__line").alias("l")),
                        )
                    )
                ),
                lambda s: s.getField("l"),
            ),
        ).alias(text_col),
        F.sum(1 - F.col("__rm")).cast("long").alias("n_lines_kept"),
        F.sum("__rm").cast("long").alias("n_lines_removed"),
    )
    return rebuilt

def winnow_fingerprints(
    df: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 —
    the MOSS algorithm): hash every ``k``-token gram, then keep the
    MINIMUM hash of each sliding window of ``window`` consecutive gram
    hashes. Shared fingerprints between two documents witness a shared
    token run of ≥ k tokens, which is what substring-level dedup
    (Lee et al. 2022, "Deduplicating Training Data...") keys on —
    MinHash sees bag-of-shingle similarity, winnowing sees contiguous
    overlap (quotes, boilerplate, copied passages).

    Output: one row per distinct fingerprint per document
    (``id_col``, ``fp`` long). Guarantee: any shared substring of at
    least ``k + window - 1`` tokens yields at least one shared
    fingerprint.

    Scale: pure per-row array algebra (token split → gram hash →
    window minima → distinct) followed by one explode — no shuffle at
    all; fingerprint hashing is md5 so stores are engine-portable.
    """
    # Higher-order lambdas are interpreted per element with no common-
    # subexpression elimination, so a free (non-lambda-bound) array
    # expression referenced inside a lambda is RE-EVALUATED on every
    # reference — the naive transform(sequence, i -> array_min(slice(
    # hashes, i, window))) nesting re-splits the text O(n²) times per
    # row (measured ~100× slower at sf0.1). Two countermeasures:
    # `_let` binds each intermediate array as a lambda variable
    # (evaluated once, then a cheap value read), and the sliding-window
    # minimum is an element-wise least() of `window` shifted slices
    # instead of a per-position array_min.
    def _let(col: Column, body) -> Column:
        return F.element_at(F.transform(F.array(col), body), 1)

    def _hashes(t: Column) -> Column:
        grams = F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
        )

    def _minima(h: Column) -> Column:
        n_fp = F.greatest(F.size(h) - (window - 1), F.lit(0))
        acc = F.slice(h, 1, n_fp)
        for j in range(1, window):
            acc = F.zip_with(
                acc, F.slice(h, 1 + j, n_fp), lambda a, b: F.least(a, b)
            )
        return F.when(F.size(h) >= window, acc).otherwise(h)

    fps = _let(
        tokens_of(text_col),
        lambda t: _let(_hashes(t), lambda h: F.array_distinct(_minima(h))),
    )
    return df.select(F.col(id_col), F.explode(fps).alias("fp"))


def winnow_candidate_pairs(
    df: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-overlap candidate pairs: documents sharing at least
    ``min_shared`` winnowing fingerprints, with the shared count as the
    overlap score.

    Scale: the self-join is keyed on the fingerprint — only documents
    in the same fingerprint bucket ever meet, like the LSH band join.
    The one skew hazard is a boilerplate k-gram present in a large
    fraction of the corpus (its bucket joins quadratically), so
    fingerprints appearing in more than ``max_df`` documents are
    dropped first — the standard stop-gram cut; such grams carry no
    dedup signal anyway. The HOT set (df > max_df) is the small side
    by construction, so it broadcasts as an anti-join; the rare set —
    which at corpus scale is nearly all fingerprints — is never
    materialized driver-side. The fingerprint frame is cached because
    both join branches consume it.
    """
    fps = winnow_fingerprints(
        df, k=k, window=window, id_col=id_col, text_col=text_col
    )
    hot = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")).filter(
        F.col("__df") > max_df
    )
    fps = cache_once(
        fps.join(F.broadcast(hot.select("fp")), on="fp", how="left_anti")
    )
    left = fps.select(F.col("fp"), F.col(id_col).alias("id_a"))
    right = fps.select(F.col("fp"), F.col(id_col).alias("id_b"))
    pairs = (
        left.join(right, on="fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return pairs

def dedup_against_store(
    new_docs: DataFrame,
    store: DataFrame,
    *,
    digest_col: str = "norm_digest",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep only documents whose canonical
    digest is NOT already in ``store`` (a frame with ``digest_col`` —
    the persisted fingerprint ledger of previously-ingested corpora),
    and drop intra-batch repeats (first id wins). This is why every
    fingerprint in this module is md5 rather than an engine hash: the
    ledger outlives any single engine/cluster.

    Scale shape: one shuffle keyed on the 32-byte digest for the
    intra-batch pick, then a LEFT ANTI join against the store on the
    same key — at 100 TB the store side is itself distributed (it is
    just a parquet table of digests); nothing broadcasts or collects.
    When the batch is small relative to the store, the anti-join's
    shuffle is bounded by the BATCH, not the ledger, under AQE.
    """
    from .text import normalize_text

    if digest_col not in new_docs.columns:
        new_docs = normalize_text(new_docs, text_col)
    # Renamed join key (not new_docs[x] == w_first[x]): `w_first`
    # derives from `new_docs`, so same-name refs resolve to one
    # attribute and Spark logs a "trivially true equals predicate"
    # warning before its self-join disambiguation kicks in.
    w_first = (
        new_docs.groupBy(digest_col)
        .agg(F.min(F.col(id_col)).alias("__keep_id"))
        .withColumnRenamed(digest_col, "__dg")
    )
    batch_unique = new_docs.join(
        w_first,
        on=[
            F.col(digest_col) == F.col("__dg"),
            F.col(id_col) == F.col("__keep_id"),
        ],
    ).drop("__keep_id", "__dg")
    return batch_unique.join(
        store.select(F.col(digest_col)).distinct(),
        on=digest_col,
        how="left_anti",
    )


def updated_fingerprint_store(
    store: DataFrame,
    accepted: DataFrame,
    *,
    digest_col: str = "norm_digest",
    text_col: str = "text",
) -> DataFrame:
    """The write-back half of the incremental-dedup loop: the ledger
    plus the digests of the batch documents that were ACCEPTED this run
    (the output of :func:`dedup_against_store`), deduplicated — ready to
    overwrite/append as the next run's ``store``.

    Kept as a digest-only union + distinct: one shuffle on the 32-byte
    key, no document payloads, and the result stays distributed (the
    ledger is just a parquet table of digests at any scale). Callers
    persist it with ``accepted``'s own write so a failed run never
    half-advances the ledger.
    """
    from .text import normalize_text

    if digest_col not in accepted.columns:
        accepted = normalize_text(accepted, text_col)
    return (
        store.select(F.col(digest_col))
        .unionByName(accepted.select(F.col(digest_col)))
        .distinct()
    )


def dedup_against_band_ledger(
    new_docs: DataFrame,
    band_ledger: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental NEAR-dup gate — the MinHash/LSH analogue of
    :func:`dedup_against_store`'s exact-digest ledger: every new
    document whose signature shares ANY LSH band with the persisted
    ``band_ledger`` (a ``(band_idx, band_val)`` frame, the accumulated
    band keys of previously-ingested corpora) is a near-dup candidate
    of something already ingested and is rejected without ever joining
    against the old corpus itself. Returns ``new_docs`` plus a
    ``verdict`` column:

    - ``'ledger_dup'`` — some band collides with the ledger;
    - ``'batch_dup'`` — no ledger collision, but some band collides
      with a SMALLER-``id_col`` document of the same batch
      (the deterministic non-iterative domination rule: dominated by
      any smaller id, whether or not that smaller doc itself survives
      — the same pair orientation as ``lsh_candidate_pairs``'s
      ``a < b``);
    - ``'accepted'`` — no collision anywhere; its band keys belong in
      the next ledger (:func:`updated_band_ledger`).

    Docs too short to shingle have null bands, produce no band
    entries, and are therefore always ``'accepted'`` (nothing to
    hash — same contract as :func:`minhash_signatures`).

    Scale shape: signatures are scan-speed column algebra; the gate is
    one explode to ``(id, band_idx, band_val)`` rows, one equi-join
    against the ledger keys, and one banded self-join —
    all keyed on uniform md5 band values, bounded by bucket sizes,
    never n². The ledger stays distributed (a parquet table of band
    keys at any scale); nothing broadcasts or collects.
    """
    sig = minhash_signatures(
        new_docs,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        band_size=band_size,
        shingle_n=shingle_n,
    )
    entries = band_entries(sig, id_col)
    ledger_keys = band_ledger.select("band_idx", "band_val").distinct()
    ledger_hits = (
        entries.join(ledger_keys, on=["band_idx", "band_val"], how="left_semi")
        .select(F.col(id_col))
        .distinct()
        .withColumn("__ledger_hit", F.lit(True))
    )
    out = new_docs.join(ledger_hits, on=id_col, how="left")
    a = entries.select(F.col(id_col).alias("__ida"), "band_idx", "band_val")
    b = entries.select(
        F.col(id_col).alias("__idb"),
        F.col("band_idx").alias("__bib"),
        F.col("band_val").alias("__bvb"),
    )
    dominated = (
        a.join(
            b,
            on=[
                F.col("band_idx") == F.col("__bib"),
                F.col("band_val") == F.col("__bvb"),
                F.col("__ida") > F.col("__idb"),
            ],
        )
        .select(F.col("__ida").alias(id_col))
        .distinct()
        .withColumn("__dominated", F.lit(True))
    )
    out = out.join(dominated, on=id_col, how="left")
    return out.withColumn(
        "verdict",
        F.when(F.col("__ledger_hit"), F.lit("ledger_dup"))
        .when(F.col("__dominated"), F.lit("batch_dup"))
        .otherwise(F.lit("accepted")),
    ).drop("__ledger_hit", "__dominated")


def updated_band_ledger(
    band_ledger: DataFrame,
    accepted: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Write-back half of the band-ledger loop (the near-dup analogue
    of :func:`updated_fingerprint_store`): the ledger plus the band
    keys of the documents ACCEPTED this run, distinct — ready to
    overwrite/append as the next run's ``band_ledger``. Signature
    parameters must match the gate's (band keys from different
    MinHash configurations never collide meaningfully); md5 keys keep
    the ledger engine-portable, same argument as the digest store.

    One shuffle on the band key, no document payloads; callers persist
    it with ``accepted``'s own write so a failed run never
    half-advances the ledger.
    """
    fresh = band_entries(
        minhash_signatures(
            accepted,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            band_size=band_size,
            shingle_n=shingle_n,
        ),
        id_col,
    ).select("band_idx", "band_val")
    return (
        band_ledger.select("band_idx", "band_val")
        .unionByName(fresh)
        .distinct()
    )


def _window_hash_structs(t: Column, k: int) -> Column:
    """Shared stride-1 k-token window grid for the exact-substring pair
    (:func:`dup_span_stats` MEASURE / :func:`remove_dup_spans` ACT):
    array of (widx 1-based, whash md5-of-joined-window) structs, empty
    below ``k`` tokens. One definition so the two halves of the
    transform can never disagree on the grid."""
    return F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.struct(
                i.alias("widx"),
                F.md5(F.array_join(F.slice(t, i, k), " ")).alias("whash"),
            ),
        ),
    ).otherwise(F.lit([]).cast("array<struct<widx:int,whash:string>>"))


def _duplicated_hashes(w: DataFrame) -> DataFrame:
    """Window hashes with corpus occurrence count >= 2 (the Lee et al.
    duplicated-substring criterion), from a (.., whash) frame."""
    return (
        w.filter(F.col("whash").isNotNull())
        .groupBy("whash")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("whash")
    )


def dup_span_stats(
    df: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    k-token window that appears more than once ANYWHERE in the corpus is
    duplicated text; per document this reports how much of it is covered
    by such windows. The published pipeline builds a corpus-wide suffix
    array — a sequential single-machine structure; the distributed
    re-expression is the standard window-hash form: every stride-1
    k-token window hashes to md5, one groupBy finds hashes with
    occurrence count >= 2, and a join back marks the duplicated windows.
    Exact for duplicate runs of length >= k (a suffix array also finds
    shorter ones; k IS the published match-length cutoff, 50 tokens
    there, configurable here).

    Output per input row: ``(id_col, n_windows, n_dup_windows,
    dup_tokens, dup_frac)`` where ``dup_tokens`` counts distinct token
    positions covered by at least one duplicated window and ``dup_frac``
    divides by the doc's token count (one double division). Documents
    shorter than ``k`` tokens have zero windows and dup_frac 0.0.

    Scale shape: window hashing is per-row algebra (O(n·k) concat work,
    ~n× row amplification → ``spread_for_explode`` first); the count and
    the mark-back both key on uniform md5 values — the usual bucket
    shapes, never a suffix-array-style global sort. Boilerplate windows
    repeated millions of times make a hot join key on the occurrence
    side; AQE skew-join splits those buckets (the dup-hash side is one
    row per hash by construction).
    """
    from .text import spread_for_explode

    t = F.col("__toks")
    win = _window_hash_structs(t, k)
    base = (
        spread_for_explode(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.size(tokens_of(text_col)).cast("long").alias("__n_tokens"),
            tokens_of(text_col).alias("__toks"),
        )
    )
    w = base.select(
        id_col, "__n_tokens", F.explode_outer(win).alias("__w")
    ).select(
        id_col,
        "__n_tokens",
        F.col("__w.widx").alias("widx"),
        F.col("__w.whash").alias("whash"),
    )
    dup = _duplicated_hashes(w)
    dup_w = w.join(dup, on="whash")
    covered = (
        dup_w.select(
            id_col, F.explode(F.sequence(F.col("widx"), F.col("widx") + (k - 1))).alias("__pos")
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    dup_counts = dup_w.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_windows")
    )
    per_doc = w.groupBy(id_col, "__n_tokens").agg(
        F.count(F.col("whash")).alias("n_windows")
    )
    return (
        per_doc.join(dup_counts, on=id_col, how="left")
        .join(covered, on=id_col, how="left")
        .select(
            id_col,
            F.col("n_windows"),
            F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long")).alias(
                "n_dup_windows"
            ),
            F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).alias(
                "dup_tokens"
            ),
            (
                F.coalesce(F.col("dup_tokens"), F.lit(0).cast("long")).cast(
                    "double"
                )
                / F.col("__n_tokens").cast("double")
            ).alias("dup_frac"),
        )
    )


def remove_dup_spans(
    df: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "clean_text",
) -> DataFrame:
    """The ACT half of :func:`dup_span_stats`: excise every token
    covered by a corpus-duplicated k-window and rebuild the text — the
    Lee et al. pipeline's actual training-set transform (they cut the
    duplicated spans, not the documents). Detection is the same
    window-hash machinery; the removal joins each doc's covered
    positions back (one array per doc, bounded by doc length), sorts
    them, and rebuilds the kept tokens from the GAPS between covered
    runs — O(covered·log covered + n_tokens) per document, not the
    O(n_tokens × covered) a per-position membership scan would cost on
    long, heavily duplicated docs.

    Output: ``(id_col, clean_text, n_tokens, n_removed)``. Documents
    with nothing duplicated pass through verbatim.
    """
    from .text import spread_for_explode

    t = F.col("__toks")
    win = _window_hash_structs(t, k)
    base = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col), tokens_of(text_col).alias("__toks")
    )
    w = base.select(id_col, F.explode(win).alias("__w")).select(
        id_col,
        F.col("__w.widx").alias("widx"),
        F.col("__w.whash").alias("whash"),
    )
    dup = _duplicated_hashes(w)
    covered = (
        w.join(dup, on="whash")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("widx"), F.col("widx") + (k - 1))
            ).alias("__pos"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.collect_list("__pos").alias("__cov"))
    )
    joined = base.join(covered, on=id_col, how="left").withColumn(
        "__cov", F.coalesce(F.col("__cov"), F.lit([]).cast("array<int>"))
    )
    # Kept positions = the gaps between covered runs: pad the sorted
    # (distinct-by-construction) covered positions with sentinels 0 and
    # n+1, then emit sequence(lo+1, hi-1) for each adjacent pair. Linear
    # in tokens; the old per-position array_contains scan was
    # O(n_tokens × covered). Guard the when(): Spark's sequence() runs
    # DESCENDING when start > stop, it does not return empty.
    pad = F.concat(
        F.array(F.lit(0)), F.array_sort(F.col("__cov")), F.array(F.size(t) + 1)
    )
    kept_idx = F.flatten(
        F.zip_with(
            F.slice(pad, F.lit(1), F.size(pad) - 1),
            F.slice(pad, F.lit(2), F.size(pad) - 1),
            lambda lo, hi: F.when(
                lo + 1 <= hi - 1, F.sequence(lo + 1, hi - 1)
            ).otherwise(F.lit([]).cast("array<int>")),
        )
    )
    return joined.select(
        id_col,
        F.array_join(
            F.transform(kept_idx, lambda i: F.element_at(t, i)), " "
        ).alias(out_col),
        F.size(t).cast("long").alias("n_tokens"),
        (F.size(t) - F.size(kept_idx)).cast("long").alias("n_removed"),
    )


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle count of an undirected graph — the classic
    two-join MapReduce formulation (Suri & Vassilvitskii WWW'11
    "Counting Triangles and the Curse of the Last Reducer"): orient
    every edge low→high id, join edges on the shared low vertex to
    enumerate open wedges (a<b, a<c), then join the wedge's (b, c) pair
    back against the oriented edge list — each triangle is counted
    exactly once, at its lowest vertex.

    Scale shape: two equi-joins keyed on vertex ids; the orientation is
    WHY this scales — wedge fan-out at a vertex is quadratic in its
    LOW-degree (edges to higher ids only), and orientation caps every
    vertex's low-degree at O(sqrt(|E|)) for any graph, taming the
    power-law hub that would otherwise explode (the paper's "curse of
    the last reducer"). Returns a 1-row frame: ``n_triangles``.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    w1 = e.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
    w2 = e.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
    wedges = w1.join(w2, on="wa").filter(F.col("wb") < F.col("wc"))
    closed = wedges.join(
        e,
        on=(F.col("wb") == F.col("a")) & (F.col("wc") == F.col("b")),
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def provenance_rollup(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    source_col: str = "source",
    size_col: str | None = "n_chars",
) -> DataFrame:
    """Per-cluster provenance audit: for every duplicate cluster, which
    sources fed it and how much content it absorbed — the "where did
    this training document come from, and what got merged into it"
    report an auditable corpus needs next to the dedup itself (a kept
    representative silently carries the licensing/provenance surface of
    every member it replaced).

    ``clusters`` maps ``id_col`` → ``cluster_col`` (dedup_clusters /
    exact-digest groups). Output per cluster: ``n_members``,
    ``min_doc_id`` / ``max_doc_id`` (the id span), ``n_sources``,
    ``sources`` (DISTINCT member sources, sorted, comma-joined — a
    flat string so downstream sinks and cross-engine compares never
    meet an ARRAY column), and ``total_chars`` (sum of ``size_col``,
    NULL-safe; omitted when ``size_col=None``).

    Scale shape: one equi-join of the cluster map against the doc
    payload on the id, one aggregate keyed by cluster. The sources
    set is bounded by the SOURCE alphabet per cluster (collect_set,
    not collect_list — no member-cardinality arrays in memory).
    """
    cmap = clusters.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__cl")
    )
    payload = [F.col(id_col).alias("__id"), F.col(source_col).alias("__src")]
    if size_col is not None:
        payload.append(F.col(size_col).cast("long").alias("__sz"))
    joined = cmap.join(docs.select(*payload), "__id")
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("__id").alias("min_doc_id"),
        F.max("__id").alias("max_doc_id"),
        F.size(F.collect_set("__src")).cast("long").alias("n_sources"),
        F.concat_ws(",", F.sort_array(F.collect_set("__src"))).alias("sources"),
    ]
    if size_col is not None:
        aggs.append(F.sum("__sz").alias("total_chars"))
    return joined.groupBy(F.col("__cl").alias(cluster_col)).agg(*aggs)


def dedup_mass_audit(
    docs: DataFrame,
    clusters: DataFrame,
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
    source_col: str = "source",
    size_col: str = "n_chars",
) -> DataFrame:
    """End-to-end mass-conservation audit of a dedup pass — the
    laudo-style invariant for the LLM-dedup side: every input document
    is either KEPT (a cluster representative, or a singleton no cluster
    claimed) or ABSORBED into exactly one representative, and the
    per-cluster provenance rollup must account for exactly the
    clustered mass. The audit recomputes both sides independently —
    member-level (docs joined to the cluster map, representative = MIN
    member id) and rollup-level (:func:`provenance_rollup` totals) —
    and exposes their agreement as data, so a broken cluster map
    (double-assignment inflating the member join, rollup drift) surfaces
    as ``conserved = 0`` in the output instead of as silent corpus
    loss or duplication. (A DANGLING cluster entry — an id no document
    carries — is invisible to both recomputations by construction and
    is the contract-gate's job, not this audit's.)

    Output: one row per source plus one ``__ALL__`` row —
    ``(source, docs_in, chars_in, docs_kept, docs_absorbed,
    chars_absorbed, conserved)``. Per-source rows audit the detail
    (docs_kept + docs_absorbed = docs_in is enforced per row); the
    ``__ALL__`` row carries the cross-check proper: the member join
    reproduces the RAW doc count and char mass exactly (catches a
    double-assigned id duplicating rows through the join), member-level
    clustered count == SUM(rollup n_members), member-level clustered
    chars == SUM(rollup total_chars), and kept + absorbed == input.

    Scale shape: one equi-join of docs against the cluster map, one
    MIN-per-cluster aggregate broadcast back, keyed aggregates by
    source; the rollup side is :func:`provenance_rollup`'s one join +
    one aggregate. No window, no data-sized collect.
    """
    cmap = clusters.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__cl")
    )
    d = docs.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.col(source_col).cast("string"), F.lit("")).alias(
            "__src"
        ),
        F.coalesce(F.col(size_col).cast("long"), F.lit(0)).alias("__sz"),
    )
    rep = cmap.groupBy("__cl").agg(F.min("__id").alias("__rep"))
    m = (
        d.join(cmap, "__id", "left")
        .join(rep, "__cl", "left")
        .withColumn(
            "__absorbed",
            (
                F.col("__cl").isNotNull() & (F.col("__id") != F.col("__rep"))
            ).cast("long"),
        )
        .withColumn("__clustered", F.col("__cl").isNotNull().cast("long"))
    )
    per_source = m.groupBy(F.col("__src").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("docs_in"),
        F.sum("__sz").cast("long").alias("chars_in"),
        F.sum("__absorbed").cast("long").alias("docs_absorbed"),
        F.sum(F.col("__absorbed") * F.col("__sz"))
        .cast("long")
        .alias("chars_absorbed"),
    ).select(
        "source",
        "docs_in",
        "chars_in",
        (F.col("docs_in") - F.col("docs_absorbed")).alias("docs_kept"),
        "docs_absorbed",
        "chars_absorbed",
        F.lit(1).cast("long").alias("conserved"),
    )
    member_tot = m.agg(
        F.count(F.lit(1)).cast("long").alias("docs_in"),
        F.sum("__sz").cast("long").alias("chars_in"),
        F.sum("__absorbed").cast("long").alias("docs_absorbed"),
        F.sum(F.col("__absorbed") * F.col("__sz"))
        .cast("long")
        .alias("chars_absorbed"),
        F.sum("__clustered").cast("long").alias("__m_clustered"),
        F.sum(F.col("__clustered") * F.col("__sz"))
        .cast("long")
        .alias("__m_cl_chars"),
    )
    rollup_tot = provenance_rollup(
        docs,
        clusters,
        id_col=id_col,
        cluster_col=cluster_col,
        source_col=source_col,
        size_col=size_col,
    ).agg(
        F.coalesce(F.sum("n_members"), F.lit(0))
        .cast("long")
        .alias("__r_members"),
        F.coalesce(F.sum("total_chars"), F.lit(0))
        .cast("long")
        .alias("__r_chars"),
    )
    raw_tot = d.agg(
        F.count(F.lit(1)).cast("long").alias("__raw_docs"),
        F.sum("__sz").cast("long").alias("__raw_chars"),
    )
    total = member_tot.crossJoin(F.broadcast(rollup_tot)).crossJoin(
        F.broadcast(raw_tot)
    ).select(
        F.lit("__ALL__").alias("source"),
        "docs_in",
        "chars_in",
        (F.col("docs_in") - F.col("docs_absorbed")).alias("docs_kept"),
        "docs_absorbed",
        "chars_absorbed",
        (
            (F.col("docs_in") == F.col("__raw_docs"))
            & (F.col("chars_in") == F.col("__raw_chars"))
            & (F.col("__m_clustered") == F.col("__r_members"))
            & (F.col("__m_cl_chars") == F.col("__r_chars"))
        )
        .cast("long")
        .alias("conserved"),
    )
    return per_source.unionByName(total)
