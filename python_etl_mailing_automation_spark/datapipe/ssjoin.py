"""Exact set-similarity self-join via prefix filtering (the
AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008): every
document pair with token-set Jaccard >= t, with NO false negatives —
the exact complement to the LSH candidate paths in :mod:`.dedup`
(which trade recall for fewer candidates) when the dedup policy must
be provably complete.

Prefix principle: order every document's tokens by one global total
order (frequency ascending, token ascending — rarest first, so
prefixes carry the most selective tokens); with prefix length
``p = |x| - ceil(t·|x|) + 1``, any two sets with Jaccard >= t share at
least one token in BOTH prefixes (the minimum-ranked shared token
cannot sit in either suffix: a suffix holds only ceil(t·|x|) - 1
tokens, fewer than the required overlap). So the candidate space is
the prefix-token equi-join — selective because frequent tokens rarely
reach a prefix — and every candidate is then verified exactly.

Exactness discipline: the threshold is a RATIONAL ``(num, den)``; the
prefix length, the symmetric size filter ``t·|a| <= |b| <= |a|/t``,
and the final Jaccard acceptance ``inter·den >= num·(|a|+|b|-inter)``
are all integer arithmetic — no float enters any decision, so the
pair set is bit-reproducible on any engine.

Scale shape: one token-frequency aggregate, one per-doc window over
(freq, token) to rank prefixes, an equi-join on prefix tokens (each
token's candidate fan-out bounded by its prefix frequency — the cut
frequent tokens never reach), and a verify join on the candidate
pairs' token sets. No cartesian anywhere; skew lives only in prefix
tokens shared by many docs, which the frequency-ascending order
minimizes by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..detach import detach, held


def _tokens_and_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num: int,
    den: int,
    shingle: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared tokenization + prefix machinery: distinct token frame
    ``(__id, tok, sz)`` with the per-doc distinct count carried on
    every row, and the ``sz - ceil(t·sz) + 1`` rarest-first prefix
    ``(__id, tok, sz)``.

    Round 10: the distinct token SET and the per-doc size are computed
    IN-ROW — ``array_distinct`` over the shingle array before the
    explode, ``size`` of the same array carried on each exploded row —
    instead of the previous explode → global ``(id, tok)`` DISTINCT
    shuffle → per-id count aggregate → join-back. Same rows by
    construction (a document's distinct shingles and their count are
    row-local facts), two exchanges fewer, and no consumer needs a
    separate ``sizes`` join any more. ``toks`` is handed back behind a
    lazy ``localCheckpoint``: the old distinct's exchange doubled as
    the ReusedExchange point for the 2–4 subplans every caller builds
    over the token frame, and without a materialization in its place
    each consumer re-runs the tokenize chain (measured: lsh_recall
    14.4 → 4.9 s, jaccard_join_exact 3.5 → 2.9 s min-of-3 once the
    checkpoint landed). Executor-local storage of the token table —
    the same footprint class as the shuffle files it replaces. The
    generator stays the INLINE
    expression (never a named column: exploding an attribute makes
    InferFiltersFromGenerate + pushdown re-run the whole shingle chain
    per row in an interpreted Filter — see dedup.exploded_shingles),
    over the ``__ws`` word-array attribute materialized once in the
    projection below (lambda bodies re-evaluate free expressions per
    element, so ``__ws`` must be an attribute, not the split)."""
    if shingle < 1:
        raise ValueError("similarity join: shingle must be >= 1")
    from .text import spread_for_explode

    # Rebalance the RAW rows first: without the old distinct's exchange
    # the token frame is consumed by several subplans (freq, ranked,
    # ta, tb, ball) with no shuffle in between, so each re-runs the
    # tokenize chain at the SCAN's parallelism — one split locally, the
    # catastrophic serial case spread_for_explode exists for. A wide
    # production scan no-ops here.
    words = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col).alias("__id"),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), x -> x != '')"
        ).alias("__ws"),
    )
    if shingle == 1:
        arr_sql = "array_distinct(__ws)"
    else:
        parts = ", ".join(
            f"element_at(__ws, i + {j})" for j in range(shingle)
        )
        # sequence(1, 0) DESCENDS in Spark, so guard short docs with an
        # explicit empty array
        arr_sql = (
            f"array_distinct(CASE WHEN size(__ws) >= {shingle} THEN"
            f" transform(sequence(1, size(__ws) - {shingle - 1}),"
            f" i -> concat_ws(' ', {parts}))"
            " ELSE cast(array() as array<string>) END)"
        )
    toks = words.select(
        "__id",
        F.expr(f"size({arr_sql})").cast("long").alias("sz"),
        F.explode(F.expr(arr_sql)).alias("tok"),
    ).select("__id", "tok", "sz")
    toks = detach(toks, eager=False)
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    ranked = toks.join(freq, on="tok").withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("__id").orderBy(
                F.col("tf").asc(), F.col("tok").asc()
            )
        ),
    )
    # prefix length p = sz - ceil(num*sz/den) + 1, all integer; SQL
    # `div` is exact integer division at any magnitude (double-divide
    # + cast would misfloor past 2^53, and DuckDB's cast-from-double
    # ROUNDS while Spark's truncates — the oracle uses `//`)
    ceil_t_sz = F.expr(f"(sz * {num} + {den - 1}) div {den}")
    prefix = ranked.filter(F.col("pos") <= F.col("sz") - ceil_t_sz + 1).select(
        "__id", "tok", "sz"
    )
    return toks, prefix


def jaccard_join_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (1, 2),
    shingle: int = 1,
) -> DataFrame:
    """All pairs ``(id_a < id_b)`` whose token SETS have Jaccard >=
    num/den. ``shingle=1`` compares whitespace-word sets; ``shingle=k``
    compares k-word shingle sets (far more selective prefixes on
    small-vocabulary corpora — a document with fewer than k words has
    no tokens and joins nothing). Returns ``(id_a, id_b, inter,
    size_a, size_b, jaccard)`` — jaccard is the only float, computed
    after the exact integer acceptance test.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"jaccard_join_exact: bad threshold {num}/{den}")
    toks, prefix = _tokens_and_prefix(
        df, id_col, text_col, num=num, den=den, shingle=shingle
    )
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("tok").alias("tok_a"),
        F.col("sz").alias("size_a"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        F.col("tok").alias("tok_b"),
        F.col("sz").alias("size_b"),
    )
    cands = (
        a.join(
            b,
            on=[
                F.col("tok_a") == F.col("tok_b"),
                F.col("id_a") < F.col("id_b"),
                # symmetric size filter: num*size_a <= den*size_b and
                # num*size_b <= den*size_a  (t·|a| <= |b| <= |a|/t)
                F.col("size_b") * den >= F.col("size_a") * num,
                F.col("size_a") * den >= F.col("size_b") * num,
            ],
        )
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    ta = toks.select(F.col("__id").alias("id_a"), F.col("tok").alias("ta"))
    tb = toks.select(F.col("__id").alias("__idb"), F.col("tok").alias("tb"))
    inter = (
        cands.join(ta, on="id_a")
        .join(
            tb,
            on=[F.col("id_b") == F.col("__idb"), F.col("ta") == F.col("tb")],
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    keep = inter.filter(
        F.col("inter") * den
        >= F.lit(num) * (F.col("size_a") + F.col("size_b") - F.col("inter"))
    )
    return keep.select(
        "id_a",
        "id_b",
        "inter",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        (
            F.col("inter").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def _containment_pairs_from(
    toks: DataFrame,
    prefix: DataFrame,
    *,
    num: int,
    den: int,
) -> DataFrame:
    """Candidate + verify machinery shared by :func:`containment_join_
    exact` (fresh per-corpus frames) and the fixpoint dedup (globally
    tokenized frames filtered to survivors): prefix-side equi-join
    against the FULL token index, exact intersection count, integer
    acceptance. Correct for ANY prefix choice of the contained side —
    the indexed side holds all tokens, so completeness never depends
    on the frequency order that picked the prefix."""
    a = prefix.select(
        F.col("__id").alias("id_a"),
        F.col("tok").alias("tok_a"),
        F.col("sz").alias("size_a"),
    )
    ball = toks.select(
        F.col("__id").alias("id_b"),
        F.col("tok").alias("tok_b"),
        F.col("sz").alias("size_b"),
    )
    cands = (
        a.join(
            ball,
            on=[F.col("tok_a") == F.col("tok_b"), F.col("id_a") != F.col("id_b")],
        )
        .select("id_a", "id_b", "size_a", "size_b")
        .distinct()
    )
    ta = toks.select(F.col("__id").alias("id_a"), F.col("tok").alias("ta"))
    tb = toks.select(F.col("__id").alias("__idb"), F.col("tok").alias("tb"))
    inter = (
        cands.join(ta, on="id_a")
        .join(
            tb,
            on=[F.col("id_b") == F.col("__idb"), F.col("ta") == F.col("tb")],
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    return inter.filter(F.col("inter") * den >= F.lit(num) * F.col("size_a"))


def containment_join_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (9, 10),
    shingle: int = 1,
) -> DataFrame:
    """Exact ASYMMETRIC containment self-join: ordered pairs
    ``(id_a, id_b)``, ``a != b``, with ``|A∩B| / |A| >= num/den`` — the
    doc-subset detector (quotes, mirrors, page-in-site, prompt-in-
    transcript) that symmetric Jaccard misses when |B| >> |A|.

    Prefix principle, one-sided: only the CONTAINED side prunes — A
    emits its ``|A| - ceil(t·|A|) + 1`` rarest-first prefix tokens
    (an overlap of ceil(t·|A|) tokens cannot hide in the
    ceil(t·|A|) - 1 token suffix), while B indexes ALL tokens (no size
    bound exists on the containing side). Candidate fan-out is the
    FULL document frequency of A's prefix tokens — still rare by the
    rarest-first order. Acceptance is pure integer arithmetic.

    Returns ``(id_a, id_b, inter, size_a, size_b, containment)``.
    """
    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"containment_join_exact: bad threshold {num}/{den}")
    toks, prefix = _tokens_and_prefix(
        df, id_col, text_col, num=num, den=den, shingle=shingle
    )
    keep = _containment_pairs_from(toks, prefix, num=num, den=den)
    return keep.select(
        "id_a",
        "id_b",
        "inter",
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        (F.col("inter").cast("double") / F.col("size_a").cast("double")).alias(
            "containment"
        ),
    )


def containment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: tuple[int, int] = (9, 10),
    shingle: int = 1,
    to_fixpoint: bool = False,
    max_rounds: int = 4,
) -> DataFrame:
    """The curation ACTION on top of :func:`containment_join_exact`
    (the detect/act split of dup_spans vs remove_dup_spans): drop every
    document whose token set is >= num/den contained in a LARGER
    document — subsumed quotes, page-in-site mirrors, prompt-in-
    transcript — keeping the container. Mutual containment (identical
    sets) keeps the smaller id, so exactly one survivor per clique and
    the operation is idempotent. Returns the surviving rows of ``df``.

    ONE-PASS policy caveat (``to_fixpoint=False``): containment at
    t < 1 is not transitive — a dropped doc's container may itself have
    been dropped by a larger one, and the chain can lose up to (1-t) of
    content per hop, so a dropped doc is not guaranteed t-covered by a
    SURVIVOR. Use t = 1/1 for lossless exact-subset pruning, or
    ``to_fixpoint=True`` when coverage by survivors is contractual.

    ``to_fixpoint=True`` is the coverage-preserving variant: each round
    drops a document only when some containing larger document is SAFE
    — itself not contained in anything larger this round — and rounds
    repeat on the survivors until nothing drops (or ``max_rounds``).
    Safe containers can never be dropped later (maximality is monotone
    as the corpus shrinks), so EVERY dropped doc is t-covered by a
    final survivor. Convergence: the oriented pair relation is a
    finite DAG (size strictly decreasing, id-ordered at ties), so a
    round with any pair always has a maximal (safe) container and
    drops at least one doc — rounds are bounded by the containment
    chain DEPTH, and at the fixpoint the survivor set is pair-free,
    hence idempotent. If ``max_rounds`` cuts the loop early the result
    is still coverage-safe, just possibly under-deduplicated.

    Scale shape: one-pass is the pair join's cost (see
    containment_join_exact) plus one distinct-ids frame and one
    left-anti join back — survivors keep their full payload without
    ever being shuffled into the pair machinery. Fixpoint runs the
    token-join pair machinery ONCE (pair acceptance depends only on the
    two documents' token sets, so the survivor-restricted pair set of
    any round is the full oriented set anti-joined to the drop ledger)
    and iterates the safe-container/drop waves on the materialized
    id-pair frame alone; per round the driver sync is one count of a
    tiny checkpointed id frame (chain-depth-bounded, the clustering/
    pagerank iterative discipline), drops accumulate in an id ledger
    anti-joined against the ORIGINAL frame, and the token caches are
    released in a ``finally`` (the no-cache-leak contract).
    """
    if not to_fixpoint:
        pairs = containment_join_exact(
            df, id_col, text_col, threshold=threshold, shingle=shingle
        )
        dropped = (
            pairs.filter(
                (F.col("size_a") < F.col("size_b"))
                | (
                    (F.col("size_a") == F.col("size_b"))
                    & (F.col("id_a") > F.col("id_b"))
                )
            )
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        return df.join(dropped, on=id_col, how="left_anti")

    if max_rounds < 1:
        raise ValueError("containment_dedup: max_rounds must be >= 1")
    num, den = threshold
    # tokenize and rank ONCE: the global rarest-first prefix stays a
    # complete candidate generator on every survivor subset (the
    # indexed side holds ALL tokens — see _containment_pairs_from), so
    # rounds only FILTER the cached frames instead of re-tokenizing
    # and re-ranking the shrinking corpus (round 7: 161 s -> ~1/3 at
    # sf0.1 for 3 rounds).
    toks, prefix = _tokens_and_prefix(
        df, id_col, text_col, num=num, den=den, shingle=shingle
    )
    # Round 10: the heavy token-join pair machinery runs ONCE, not once
    # per round. Pair acceptance (|A∩B| >= t·|A|, size/id orientation)
    # depends only on the two documents' token sets — never on who else
    # survives — and the global prefix is complete on every survivor
    # subset, so round k's oriented pair set over survivors is EXACTLY
    # the full oriented pair set restricted to survivor×survivor. The
    # fixpoint therefore iterates on the materialized id-pair frame
    # alone (chain-depth-bounded rounds over a pairs-sized frame),
    # instead of re-running the prefix join + intersection count on
    # anti-join-filtered token caches every round.
    with held() as hold:
        oriented_all = (
            _containment_pairs_from(hold(toks), hold(prefix), num=num, den=den)
            .filter(
                (F.col("size_a") < F.col("size_b"))
                | (
                    (F.col("size_a") == F.col("size_b"))
                    & (F.col("id_a") > F.col("id_b"))
                )
            )
            .select("id_a", "id_b")
            .transform(lambda d: detach(d, eager=True))
        )
    ledger: DataFrame | None = None
    pairs_r = oriented_all
    for _ in range(max_rounds):
        # a container is SAFE iff it is not itself a contained side
        # this round; only drops with a safe container are applied
        contained = pairs_r.select(F.col("id_a").alias("id_b")).distinct()
        # lazy checkpoints: the count (and next round's first job)
        # materialize them — no separate eager-materialization jobs
        drops = (
            pairs_r.join(contained, on="id_b", how="left_anti")
            .select(F.col("id_a").alias(id_col))
            .distinct()
            .transform(lambda d: detach(d, eager=False))
        )
        if drops.count() == 0:
            break
        ledger = drops if ledger is None else ledger.unionByName(drops)
        pairs_r = (
            pairs_r.join(
                drops.select(F.col(id_col).alias("id_a")), on="id_a", how="left_anti"
            )
            .join(
                drops.select(F.col(id_col).alias("id_b")), on="id_b", how="left_anti"
            )
            .transform(lambda d: detach(d, eager=False))
        )
    if ledger is None:
        return df
    return df.join(ledger, on=id_col, how="left_anti")


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_col: str,
    *,
    window: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo, SIGMOD 1995):
    order records by a sort key and emit every pair within ``window``
    positions — the classic entity-resolution candidate generator when
    no equality-based blocking key exists (near-identical names sort
    adjacent even when no field matches exactly). Complements the
    deletion-neighborhood edit-distance join
    (:func:`~..operators.linkage.fuzzy_join_edit`): SNM bounds
    candidates at (window-1)·n by CONSTRUCTION (recall depends on the
    sort key), while the edit join guarantees recall (candidates depend
    on the data).

    Returns ``(id_a, id_b, key_a, key_b)`` — verification (edit
    distance, field compare) is the caller's next stage, kept separate
    so one pair list feeds many match rules.

    Scale shape: rank + lead windows per ``block_col`` — ONE hash
    exchange, pairs via a bounded lead-array explode (≤ window-1 rows
    per record), never a rank self-join (the oracle does exactly that
    rank self-join). Pass ``block_col`` in production: it is the
    multi-pass SNM key that (a) parallelizes the sort across blocks
    and (b) is how SNM is actually deployed; the unblocked variant
    plans a single-partition window — correct, and documented here as
    the small-data mode only. Sort ties break on id, so the pair set
    is deterministic under any partitioning.
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 2")
    keys = [block_col] if block_col else []
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(sort_col).isNotNull()
    ).select(*keys, F.col(id_col).alias("__id"), F.col(sort_col).alias("__key"))
    w = Window.partitionBy(*keys).orderBy(F.col("__key").asc(), F.col("__id").asc())
    withnext = base.select(
        *keys,
        "__id",
        "__key",
        F.array(
            *[
                F.struct(
                    F.lead("__id", i).over(w).alias("nid"),
                    F.lead("__key", i).over(w).alias("nkey"),
                )
                for i in range(1, window)
            ]
        ).alias("__next"),
    )
    pairs = withnext.select(
        *keys,
        F.col("__id").alias("id_a"),
        F.col("__key").alias("key_a"),
        F.explode(F.filter(F.col("__next"), lambda x: x["nid"].isNotNull())).alias("__n"),
    )
    return pairs.select(
        *keys,
        "id_a",
        F.col("__n.nid").alias("id_b"),
        "key_a",
        F.col("__n.nkey").alias("key_b"),
    )
