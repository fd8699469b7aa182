"""Distributed suffix-array construction by prefix doubling, and the
ExactSubstr duplicate-span extraction built on it.

Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
Better") deduplicate at EXACT SUBSTRING granularity by building a
corpus-wide suffix array and excising duplicate runs >= a length
threshold. Their published implementation is a sequential single-machine
structure; this module re-expresses the construction as the classic
**prefix-doubling** algorithm (Manber-Myers) in relational form, the
standard way to build suffix arrays on a data-parallel engine:

- round 0 ranks every position by its single token;
- round k re-ranks every position by the PAIR
  ``(rank_k[i], rank_k[i + 2^k])`` — two suffixes compare equal at depth
  ``2^(k+1)`` iff both their depth-``2^k`` halves compare equal — so
  ``log2(depth)`` self-equi-joins produce the depth-limited suffix
  ranking with **zero hashing and zero collision risk** (the window-hash
  form of the same paper lives in :func:`~.dedup.dup_span_stats`; this
  is its exact, rank-producing sibling).

Every ranking step needs a GLOBAL dense rank — the textbook
single-machine step is "sort all suffixes"; here each re-rank is a
``distinct`` on the (bounded-width) key pair followed by the two-level
bucketed prefix sum of :mod:`~.prefix` (running count of distinct keys
== dense rank), so no round ever moves the corpus through one task's
sort. All joins are equi-joins on ``(doc, pos)`` or on the rank pair.

Scale shape at 100 TB: rounds are ``log2(depth)`` (depth is the match
cutoff, e.g. 50 tokens -> 6 rounds); each round shuffles the position
table once on ``(doc, pos)`` (the shifted self-join) and the distinct
pair table once — both uniform integer keys. The positions table is
token-count sized (~n rows); nothing is ever quadratic and no round
depends on corpus order.

Small-depth fast path (round 10): when ``depth`` is small the doubling
rounds are the wrong trade. Each doubling round shuffles the n-row
position table ~twice at ~24 B/row plus a distinct-pair table, so depth
d costs ~``2·log2(d)`` exchanges of 24 B/row; materializing the clipped
d-token window PER POSITION instead is a pure map-side expression
(``slice`` over the already-held tokens array — zero shuffle to build)
and needs ONE grouping/ranking pass at ~``d · avg_token`` bytes/row.
With ~6-byte tokens the direct window wins on shuffled bytes up to
d ≈ 32 (direct: 8·6=48 B at d=8 vs doubling 2·3·24=144 B; crossover
~d=64) and always wins on rounds/jobs — suffix_ranks at depth 8 drops
from 4 dense-rank rounds (13 Spark jobs) to 1. Spark compares arrays
element-wise with shorter-prefix-first order — exactly the depth-clipped
suffix order — so the window ARRAY is directly the ranking key: same
results, no hashing, bit-identical to the doubling path (pytest pins
the two paths equal). ``_DIRECT_DEPTH_MAX`` gates the dispatch; the
doubling machinery remains the large-depth path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..detach import detach
from .prefix import global_running_sums
from .text import spread_for_explode, tokens_of

# Largest depth at which the direct window-array path out-shuffles the
# doubling rounds (byte math in the module docstring). Above this the
# per-row window key (~depth · avg_token bytes) costs more to move than
# 2·log2(depth) passes of 24-byte rank rows.
_DIRECT_DEPTH_MAX = 32


def _dense_rank_of(df: DataFrame, cols: list[str], out: str) -> DataFrame:
    """Dense 1-based rank of the distinct ``cols`` tuples, as a frame
    ``cols + [out]`` to equi-join back onto the data.

    Rank = running COUNT over the distinct-key frame in ``cols`` order —
    the distinct frame has no ties on the full key, so the bucketed
    two-level prefix of :func:`~.prefix.global_running_sums` yields the
    exact dense rank with no unpartitioned window in the plan.
    """
    # The distinct frame is evaluated three times downstream (boundary
    # sample, bucket totals, join-back) — detach it once.
    distinct = detach(
        df.select(*cols).distinct().withColumn("__one", F.lit(1)),
        eager=True,
    )
    ranked = global_running_sums(distinct, cols, {out: "__one"})
    return ranked.drop("__one")


def _positions(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """``(id, pos, __tok, __n)``: 1-based token positions per document,
    whitespace tokenization identical to the rest of the text stack
    (and to the oracle's ``string_split_regex(trim(text), '\\s+')``)."""
    toks = tokens_of(text_col)
    return spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.size(toks).cast("long").alias("__n"),
        F.posexplode(toks).alias("__p0", "__tok"),
    ).select(
        id_col,
        "__n",
        (F.col("__p0") + 1).cast("long").alias("pos"),
        "__tok",
    )


def _window_tab(
    df: DataFrame, id_col: str, text_col: str, depth: int
) -> DataFrame:
    """``(id, pos, __n, __win)``: the depth-clipped token window STARTING
    at each 1-based position, built map-side with zero shuffle — the
    tokens array is already on the row, so every window is a ``slice``
    of it. ``__win`` is the ranking/equality key of the direct path:
    Spark orders arrays element-wise with shorter-prefix-first, which is
    exactly depth-clipped suffix order.

    The tokens array is materialized as a real column in a projection
    BELOW the Generate: an expensive expression referenced inside a
    higher-order-function lambda is re-evaluated PER ELEMENT (lambdas
    are interpreted, no subexpression elimination crosses the lambda
    boundary), so inlining ``tokens_of`` here re-tokenized the text
    once per position — measured 3.7 s vs 0.7 s for the same gram
    build at sf0.1. As an attribute it is computed once per row;
    CollapseProject keeps the lower projection because the reference
    is non-cheap and multiply used."""
    toks_tab = spread_for_explode(df.select(id_col, text_col)).select(
        F.col(id_col), tokens_of(text_col).alias("__toks")
    )
    return toks_tab.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("__n"),
        F.posexplode(
            F.transform(
                "__toks", lambda _x, i: F.slice("__toks", i + 1, depth)
            )
        ).alias("__p0", "__win"),
    ).select(
        id_col,
        "__n",
        (F.col("__p0") + 1).cast("long").alias("pos"),
        "__win",
    )


def _pick_path(path: str, depth: int) -> str:
    if path not in ("auto", "direct", "doubling"):
        raise ValueError(f"path must be auto|direct|doubling, got {path!r}")
    if path != "auto":
        return path
    return "direct" if depth <= _DIRECT_DEPTH_MAX else "doubling"


def _merge_islands(
    starts: DataFrame, id_col: str, min_len: int
) -> DataFrame:
    """Gaps-and-islands merge of duplicated-window START positions into
    maximal per-document spans (two starts <= ``min_len`` apart chain).
    ``starts`` is ``(id_col, pos)``; the window is partitioned BY
    document, so the only per-task sort is one document's starts."""
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        starts.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") - F.col("__prev") > min_len),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "__isl",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return islands.groupBy(id_col, "__isl").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") + (min_len - 1)).cast("long").alias("span_end"),
        (F.max("pos") - F.min("pos") + min_len).cast("long").alias(
            "span_tokens"
        ),
    ).drop("__isl")


def suffix_ranks(
    df: DataFrame,
    *,
    depth: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str = "auto",
) -> DataFrame:
    """Depth-limited suffix ranking by prefix doubling.

    Returns one row per token position: ``(id_col, pos, rank)`` where
    ``rank`` is the 1-based DENSE rank of the suffix starting at ``pos``
    under lexicographic comparison of its first ``depth`` tokens
    (clipped at the document end; a shorter suffix that is a prefix of a
    longer one sorts first, matching SQL/Python list comparison). Two
    positions share a rank iff their depth-clipped token windows are
    IDENTICAL — the exact, collision-free counterpart of an md5 window
    hash.

    ``depth`` is decomposed into powers of two: power ranks are built by
    doubling, then composed left-to-right (rank at depth a+b is the
    re-rank of ``(rank_a[i], rank_b[i+a])``), so any cutoff works, not
    just powers of two.

    Plan shape: for ``depth <= _DIRECT_DEPTH_MAX`` (``path="auto"``),
    ONE dense rank over the map-side-built clipped window arrays — one
    boundary sample plus two exchanges total. Above that, the doubling
    path: ``O(log2 depth)`` rounds, each ONE shifted self-join on
    ``(id, pos)`` plus ONE distinct-pair dense rank (bucketed two-level
    prefix — see module docstring). Both paths: no global sort, no hash
    collisions, no Python in the hot path, bit-identical output.
    """
    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    if _pick_path(path, depth) == "direct":
        win_tab = _window_tab(df, id_col, text_col, depth)
        ranked = _dense_rank_of(win_tab, ["__win"], "__r")
        return win_tab.join(ranked, on="__win").select(
            id_col, "pos", F.col("__r").cast("long").alias("rank")
        )
    pos_tab = detach(_positions(df, id_col, text_col), eager=True)
    powers = _power_ranks(pos_tab, id_col, depth)
    # Binary decomposition, largest power first.
    remaining = depth
    acc: DataFrame | None = None
    acc_depth = 0
    while remaining:
        p = 1 << (remaining.bit_length() - 1)
        acc = (
            powers[p]
            if acc is None
            else _extend_rank(acc, acc_depth, powers[p], id_col)
        )
        acc_depth += p
        remaining -= p
    return acc.select(
        id_col, "pos", F.col("__r").cast("long").alias("rank")
    )


def _extend_rank(
    base: DataFrame, base_depth: int, ext: DataFrame, id_col: str
) -> DataFrame:
    """Re-rank ``base`` (depth ``base_depth``) by appending ``ext``'s
    rank at position ``pos + base_depth`` (0 when past the end)."""
    shifted = ext.select(
        F.col(id_col),
        (F.col("pos") - base_depth).alias("pos"),
        F.col("__r").alias("__r2"),
    )
    pairs = (
        base.join(shifted, on=[id_col, "pos"], how="left")
        .withColumn("__r2", F.coalesce("__r2", F.lit(0).cast("long")))
    )
    rank2 = _dense_rank_of(pairs, ["__r", "__r2"], "__rn")
    return detach(
        pairs.join(rank2, on=["__r", "__r2"]).select(
            id_col, "pos", F.col("__rn").alias("__r")
        ),
        eager=True,
    )


def _power_ranks(
    pos_tab: DataFrame, id_col: str, up_to: int
) -> dict[int, DataFrame]:
    """Power-of-two depth rank tables ``{1: ..., 2: ..., 4: ...}`` by
    doubling, up to the largest power <= ``up_to``.

    Round 0 ranks single tokens (missing-token rank is 0 everywhere
    downstream, sorting before every real token — rank 1 is the
    smallest). Every round's frame is REUSED (each doubling self-joins
    the prior power against itself; callers read powers again), so each
    is cut from its lineage with ``detach(..., eager=True)`` — without it the compiled plan doubles per
    round (exponential in log2(depth)) and every reuse re-derives the
    full upstream."""
    tok_rank = _dense_rank_of(pos_tab, ["__tok"], "__r")
    cur = detach(
        pos_tab.join(tok_rank, on="__tok").select(id_col, "pos", "__r"),
        eager=True,
    )
    powers: dict[int, DataFrame] = {1: cur}
    p = 1
    while p * 2 <= up_to:
        powers[p * 2] = _extend_rank(powers[p], p, powers[p], id_col)
        p *= 2
    return powers


def exact_substr_spans(
    df: DataFrame,
    *,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str = "auto",
) -> DataFrame:
    """Maximal duplicated spans per document at exact-substring
    granularity (the ExactSubstr side of Lee et al. 2022).

    A position STARTS a duplicated run when its ``min_len``-token window
    (it must have ``min_len`` tokens available) is identical to the
    window at some OTHER position anywhere in the corpus — decided by
    equality of depth-``min_len`` suffix ranks, i.e. exactly, with no
    hash. Overlapping/adjacent duplicated windows then merge into
    maximal spans per document (the gaps-and-islands step — two start
    positions <= ``min_len`` apart chain into one span).

    Output: ``(id_col, span_start, span_end, span_tokens)``, 1-based
    inclusive token positions, one row per maximal span.

    Scale shape, direct path (``min_len <= _DIRECT_DEPTH_MAX``): the
    duplicated-window predicate needs only EQUALITY of windows — no rank
    at all — so one count-over-window partitioned by the map-side-built
    window array decides every start in a single exchange, then the
    island merge. Doubling path (large ``min_len``): the rank table from
    :func:`suffix_ranks` (log-depth rounds), one groupBy on ``rank``
    (uniform integer key) to find duplicated windows, then the same
    island merge. Both per-document island windows are partitioned BY
    document, so the only per-task sort is one document's starts.
    """
    if _pick_path(path, min_len) == "direct":
        full = _window_tab(df, id_col, text_col, min_len).filter(
            F.size("__win") == min_len
        )
        wc = Window.partitionBy("__win")
        starts = (
            full.withColumn("__c", F.count(F.lit(1)).over(wc))
            .filter(F.col("__c") >= 2)
            .select(id_col, "pos")
        )
        return _merge_islands(starts, id_col, min_len)
    ranks = suffix_ranks(
        df, depth=min_len, id_col=id_col, text_col=text_col, path=path
    )
    n_tok = _positions(df, id_col, text_col).select(
        id_col, "pos", "__n"
    )
    # Referenced twice below (the duplicated-rank aggregate AND the
    # start join) — detach once.
    full = detach(
        ranks.join(n_tok, on=[id_col, "pos"]).filter(
            F.col("__n") - F.col("pos") + 1 >= min_len
        ),
        eager=True,
    )
    dup_ranks = (
        full.groupBy("rank")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("rank")
    )
    starts = full.join(dup_ranks, on="rank").select(id_col, "pos")
    return _merge_islands(starts, id_col, min_len)


def longest_dup_run(
    df: DataFrame,
    *,
    max_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str = "auto",
) -> DataFrame:
    """Per-document longest duplicated run, exactly, up to ``max_len``
    tokens — the diagnostic a window-hash pipeline cannot produce
    without one pass PER candidate length (the suffix-rank tables
    answer every length at once; Lee et al. 2022 read this off the
    suffix array's LCP structure).

    For each position, ``L(pos)`` = the largest ``d <= max_len`` such
    that the FULL d-token window starting there occurs at >= 2 positions
    corpus-wide (the window-of-length-d predicate is monotone in d, so
    the maximum is well-defined). Per document this reports
    ``(id_col, longest_dup_len, n_at_max)`` — the longest such run and
    how many positions achieve it (0/0 for documents with no duplicated
    window at all).

    Algorithm — the textbook suffix-array + LCP construction, fully
    distributed. The depth-``max_len`` DENSE rank (from
    :func:`suffix_ranks`'s machinery) IS the suffix-array order, so:

    - a rank held by >= 2 positions is a window duplicated at full key
      length (``min(max_len, available)``) — done, no search needed;
    - otherwise the longest duplicated prefix at a position equals its
      max LCP against any other suffix, which (classic SA property) is
      attained at a NEIGHBOR in suffix order. Ranks are dense, so the
      neighbor pairs are an equi-join of each rank's representative
      against rank+1 — all members of a rank share the same clipped
      window, so one representative is faithful for LCP < max_len.
    - LCP per neighbor pair by binary descent over the power tables,
      highest bit first: step ``2^b`` iff both sides have a full
      ``2^b`` window at the current offset and their power ranks are
      equal. (This per-PAIR descent has no path-dependence — an
      earlier greedy variant that searched per POSITION with composed
      identities was wrong precisely because a position's search path
      depended on how far ITS OTHER duplicates matched.)

    Scale shape, direct path (``max_len <= _DIRECT_DEPTH_MAX``): the
    rank group IS its window array, so the neighbor LCP is a pure
    expression over the two arrays (first unequal element via
    zip_with + array_position) — no power tables, no descent rounds.
    One dense rank over the distinct windows plus two bounded joins.
    Doubling path (large ``max_len``): ``log2(max_len)`` doubling
    rounds to build the powers (position-table-sized equi-joins), then
    ``log2(max_len)+1`` descent rounds over the RANK-representative
    frame (<= one row per distinct window — strictly smaller), each two
    equi-joins into a power table; per-round frames detach via lazy
    localCheckpoint exactly as in :func:`suffix_ranks`. Nothing is
    quadratic, nothing hashes, no global sort — on either path.
    """
    if max_len < 1:
        raise ValueError(f"max_len must be >= 1, got {max_len}")
    if _pick_path(path, max_len) == "direct":
        return _longest_dup_run_direct(df, max_len, id_col, text_col)
    pos_tab = detach(_positions(df, id_col, text_col), eager=True)
    top = 1 << (max_len.bit_length() - 1)
    powers = _power_ranks(pos_tab, id_col, top)

    # Exact-depth-max_len ranks composed from the power tables (binary
    # decomposition, largest power first) — the suffix-array order.
    remaining, acc, acc_depth = max_len, None, 0
    while remaining:
        p = 1 << (remaining.bit_length() - 1)
        acc = (
            powers[p]
            if acc is None
            else _extend_rank(acc, acc_depth, powers[p], id_col)
        )
        acc_depth += p
        remaining -= p
    rk = acc.join(pos_tab.select(id_col, "pos", "__n"), on=[id_col, "pos"])

    # Per rank: occurrence count, full-key length (every member of a
    # rank shares the clipped window, hence its length), and one
    # deterministic representative for the LCP descent.
    grp = detach(
        rk.groupBy("__r").agg(
            F.count(F.lit(1)).alias("__c"),
            F.least(
                F.lit(max_len), F.min(F.col("__n") - F.col("pos") + 1)
            ).alias("__wlen"),
            F.min(F.struct(id_col, "pos", "__n")).alias("__rep"),
        ),
        eager=True,
    )
    # Neighbor pairs in suffix order: rank r's representative vs rank
    # r+1's (dense ranks — adjacency IS the +1 join).
    nxt = grp.select(
        (F.col("__r") - 1).alias("__r"),
        F.col("__rep")[id_col].alias("__idB"),
        F.col("__rep")["pos"].alias("__posB"),
        F.col("__rep")["__n"].alias("__nB"),
    )
    pairs = grp.select(
        "__r",
        F.col("__rep")[id_col].alias("__idA"),
        F.col("__rep")["pos"].alias("__posA"),
        F.col("__rep")["__n"].alias("__nA"),
    ).join(nxt, on="__r", how="inner").withColumn(
        "__lcp", F.lit(0).cast("long")
    )
    # Binary-descent LCP, one power per round, two rank lookups each.
    v = top
    while v >= 1:
        look = powers[v]
        la = look.select(
            F.col(id_col).alias("__idA"),
            F.col("pos").alias("__pA"),
            F.col("__r").alias("__ra"),
        )
        lb = look.select(
            F.col(id_col).alias("__idB"),
            F.col("pos").alias("__pB"),
            F.col("__r").alias("__rb"),
        )
        pairs = detach(
            pairs.withColumn("__pA", F.col("__posA") + F.col("__lcp"))
            .withColumn("__pB", F.col("__posB") + F.col("__lcp"))
            .join(la, on=["__idA", "__pA"], how="left")
            .join(lb, on=["__idB", "__pB"], how="left")
            .withColumn(
                "__step",
                (F.col("__pA") + F.lit(v) - 1 <= F.col("__nA"))
                & (F.col("__pB") + F.lit(v) - 1 <= F.col("__nB"))
                & (F.col("__ra") == F.col("__rb")),
            )
            .withColumn(
                "__lcp",
                F.when(F.col("__step"), F.col("__lcp") + F.lit(v))
                .otherwise(F.col("__lcp"))
                .cast("long"),
            )
            .drop("__pA", "__pB", "__ra", "__rb", "__step"),
            eager=True,
        )
        v //= 2
    lcp = pairs.select("__r", F.least(F.col("__lcp"), F.lit(max_len)).alias("__lcp"))

    # Per-rank answer: duplicated-at-full-length beats any neighbor
    # LCP; otherwise the max of the LCPs with the two suffix-order
    # neighbors (0 when absent).
    prev = lcp.select((F.col("__r") + 1).alias("__r"), F.col("__lcp").alias("__lp"))
    per_rank = (
        grp.select("__r", "__c", "__wlen")
        .join(lcp.withColumnRenamed("__lcp", "__ln"), on="__r", how="left")
        .join(prev, on="__r", how="left")
        .select(
            "__r",
            F.greatest(
                F.when(F.col("__c") >= 2, F.col("__wlen")).otherwise(F.lit(0)),
                F.coalesce("__ln", F.lit(0)),
                F.coalesce("__lp", F.lit(0)),
            ).cast("long").alias("__len"),
        )
    )
    state = rk.join(per_rank, on="__r").select(id_col, "pos", "__len")
    return _per_doc_best(state, id_col)


def _per_doc_best(state: DataFrame, id_col: str) -> DataFrame:
    """(doc, len) counts first, then a per-document window over that
    bounded aggregate (<= max_len+1 rows per doc) picks the max row."""
    cnt = state.groupBy(id_col, "__len").agg(
        F.count(F.lit(1)).alias("__n_best")
    )
    w = Window.partitionBy(id_col)
    per_doc = cnt.withColumn("__best", F.max("__len").over(w)).filter(
        F.col("__len") == F.col("__best")
    )
    return per_doc.select(
        id_col,
        F.col("__best").cast("long").alias("longest_dup_len"),
        F.when(F.col("__best") > 0, F.col("__n_best"))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_at_max"),
    )


def _longest_dup_run_direct(
    df: DataFrame, max_len: int, id_col: str, text_col: str
) -> DataFrame:
    """Small-depth :func:`longest_dup_run`: the clipped ``max_len``
    window array IS the rank group, so occurrence counts, window
    length, and the neighbor LCP all read straight off it — one dense
    rank over the distinct windows replaces the doubling AND descent
    loops of the large-depth path."""
    win_tab = _window_tab(df, id_col, text_col, max_len)
    # One row per DISTINCT window with its corpus-wide count; ranked by
    # the bucketed prefix (dense rank == suffix-array order). The frame
    # feeds three plan branches plus the boundary sample — detach once.
    grp0 = detach(
        win_tab.groupBy("__win")
        .agg(F.count(F.lit(1)).alias("__c"))
        .withColumn("__one", F.lit(1)),
        eager=True,
    )
    grp = global_running_sums(grp0, ["__win"], {"__r": "__one"}).drop(
        "__one"
    )
    # Neighbor LCP in suffix order: rank r's window vs rank r+1's —
    # dense ranks make adjacency an equi-join — and the LCP itself is
    # the index of the first unequal element (zip_with pads the shorter
    # array with NULLs; eqNullSafe turns the pad into FALSE; equal
    # arrays have no FALSE and array_position returns 0).
    nxt = grp.select(
        (F.col("__r") - 1).alias("__r"), F.col("__win").alias("__winB")
    )
    z = F.zip_with("__win", "__winB", lambda x, y: x.eqNullSafe(y))
    p = F.array_position(z, F.lit(False))
    lcp = (
        grp.join(nxt, on="__r")
        .select(
            "__r",
            F.when(
                p == 0, F.least(F.size("__win"), F.size("__winB"))
            )
            .otherwise(p - 1)
            .cast("long")
            .alias("__lcp"),
        )
    )
    # Per-rank answer: duplicated-at-full-length beats any neighbor
    # LCP; otherwise the max LCP with the two suffix-order neighbors.
    prev = lcp.select(
        (F.col("__r") + 1).alias("__r"), F.col("__lcp").alias("__lp")
    )
    per_win = (
        grp.join(lcp.withColumnRenamed("__lcp", "__ln"), on="__r", how="left")
        .join(prev, on="__r", how="left")
        .select(
            "__win",
            F.greatest(
                F.when(F.col("__c") >= 2, F.size("__win")).otherwise(
                    F.lit(0)
                ),
                F.coalesce("__ln", F.lit(0).cast("long")),
                F.coalesce("__lp", F.lit(0).cast("long")),
            ).cast("long").alias("__len"),
        )
    )
    state = win_tab.join(per_win, on="__win").select(id_col, "pos", "__len")
    return _per_doc_best(state, id_col)


def cross_corpus_substr(
    train: DataFrame,
    test: DataFrame,
    *,
    min_len: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    path: str = "auto",
) -> DataFrame:
    """Exact-substring DECONTAMINATION at suffix granularity — the use
    Lee et al. 2022 put the suffix array to: find every maximal span of
    a TRAIN document whose ``min_len``-token window also occurs in the
    TEST corpus (benchmark leakage), so it can be excised before
    training. The shingle-hash variant lives in
    :mod:`~.contamination`; this is its exact, collision-free sibling
    on the prefix-doubling rank tables.

    Construction: union the corpora under a surrogate key
    ``doc_id * 2 + tag`` (tag 1 = test; collision-free for any
    non-negative ids), rank depth-``min_len`` windows once over the
    UNION — equal rank <=> identical window, across corpora — then keep
    the ranks that have at least one full-window TEST position, and
    merge the TRAIN positions holding those ranks into maximal spans
    (gaps-and-islands per train document). A train span whose twin
    exists only in train (ordinary self-duplication) does NOT match —
    the predicate is presence in test.

    Output: ``(id_col, span_start, span_end, span_tokens)`` over train
    documents, 1-based inclusive token positions.

    Scale shape: identical to :func:`exact_substr_spans`. Direct path
    (small ``min_len``): ONE window partitioned by the map-side-built
    window array decides cross-corpus presence (max of the test tag
    over the group) in a single exchange. Doubling path: log-depth
    doubling over the unioned position table, one groupBy on the rank.
    Either way decontamination costs ONE extra boolean aggregate over
    the window/rank groups, not a join of train against test; the
    island merge is per-train-document.
    """
    t0 = train.select(
        (F.col(id_col).cast("long") * 2).alias("__uid"),
        F.col(text_col).alias("__text"),
    )
    t1 = test.select(
        (F.col(id_col).cast("long") * 2 + 1).alias("__uid"),
        F.col(text_col).alias("__text"),
    )
    union = t0.unionByName(t1)
    if _pick_path(path, min_len) == "direct":
        full = _window_tab(union, "__uid", "__text", min_len).filter(
            F.size("__win") == min_len
        )
        wc = Window.partitionBy("__win")
        starts = (
            full.withColumn(
                "__in_test",
                F.max((F.col("__uid") % 2 == 1).cast("int")).over(wc),
            )
            .filter((F.col("__uid") % 2 == 0) & (F.col("__in_test") == 1))
            .select(
                (F.col("__uid") / 2).cast("long").alias(id_col), "pos"
            )
        )
        return _merge_islands(starts, id_col, min_len)
    ranks = suffix_ranks(
        union, depth=min_len, id_col="__uid", text_col="__text", path=path
    )
    n_tok = _positions(union, "__uid", "__text").select(
        "__uid", "pos", "__n"
    )
    full = detach(
        ranks.join(n_tok, on=["__uid", "pos"]).filter(
            F.col("__n") - F.col("pos") + 1 >= min_len
        ),
        eager=True,
    )
    tainted = (
        full.groupBy("rank")
        .agg(
            F.max((F.col("__uid") % 2 == 1).cast("int")).alias("__in_test")
        )
        .filter(F.col("__in_test") == 1)
        .select("rank")
    )
    starts = (
        full.filter(F.col("__uid") % 2 == 0)
        .join(tainted, on="rank")
        .select(
            (F.col("__uid") / 2).cast("long").alias(id_col), "pos"
        )
    )
    return _merge_islands(starts, id_col, min_len)
