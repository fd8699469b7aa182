"""Ordered-funnel analysis — "view → click → purchase" conversion.

The classic product-analytics question: for each user, did the stages
happen IN ORDER (a click before any view doesn't count), and when. The
naive form is k-1 self-joins of the event stream; this form is pure
window algebra: stage i's timestamp is the MIN event time of stage i's
type at-or-after stage i-1's timestamp — k nested conditional window
minima over ONE user partitioning. Spark plans all of them over a single
hash exchange (the window specs share the partition key), so the whole
funnel costs one shuffle of the events regardless of k.

Skew note: a bot user with millions of events serializes one partition's
window sort, as with any per-entity window; the session factory's AQE
skew handling and an upstream per-user event cap are the levers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    stages: list[str],
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """One row per user: ``stage<i>_ts`` = when the user completed stage
    i of the ordered funnel (NULL from the first missed stage on), plus
    ``stages_reached``. Stage 0 is the user's earliest ``stages[0]``
    event; stage i is the earliest ``stages[i]`` event at-or-after stage
    i-1.

    Equal timestamps count as in-order (at-or-after, not strictly
    after): simultaneous view+click converts — the standard inclusive
    funnel convention.
    """
    if len(stages) < 2:
        raise ValueError("funnel_stages: need at least two stages")
    w = Window.partitionBy(user_col)
    df = events.select(user_col, type_col, ts_col)
    prev: Column | None = None
    out_cols: list[str] = []
    for i, stage in enumerate(stages):
        cond = F.col(type_col) == stage
        if prev is not None:
            cond = cond & (F.col(ts_col) >= prev)
        name = f"stage{i}_ts"
        df = df.withColumn(name, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(name)
        out_cols.append(name)
    return (
        df.groupBy(user_col)
        .agg(*[F.min(c).alias(c) for c in out_cols])
        .withColumn(
            "stages_reached",
            sum(
                (
                    F.when(F.col(c).isNotNull(), 1).otherwise(0)
                    for c in out_cols
                ),
                F.lit(0),
            ).cast("int"),
        )
    )


def sequence_pattern_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    *,
    mapping: dict[str, str],
    pattern: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex matching over each key's ordered
    event-type sequence. Events map to single characters via
    ``mapping`` (unmapped types are dropped — they neither match nor
    break adjacency; include a wildcard char in the mapping when gaps
    must matter), the per-key string is assembled in (ts, order_cols)
    order, and ``pattern`` — a regex over those characters, e.g.
    ``vc*p`` for "view, any clicks, purchase" — is counted and probed
    per key. The relational engines' answer to event-pattern queries
    (funnel variants with optional/repeated steps, abandonment shapes,
    retry storms) that the fixed-stage funnel can't express.

    Returns one row per key: ``seq_len``, ``n_matches``
    (non-overlapping, leftmost-first — the shared Java-regex/RE2
    discipline for patterns without alternation-order traps), and
    ``first_match`` (the matched substring, '' when none).

    Scale shape: one hash exchange (groupBy key) building the sequence
    via sort_array(collect_list(struct)) — the ordered-list-agg idiom
    the enrichment join already uses — then pure string functions.
    Per-key memory is the key's event count (chars); a bot key with
    millions of events needs an upstream cap, the standard per-entity
    window caveat. The regex runs once per KEY, not per event.
    """
    if not mapping:
        raise ValueError("sequence_pattern_counts: mapping must be non-empty")
    for t, c in mapping.items():
        if len(c) != 1:
            raise ValueError(
                f"sequence_pattern_counts: mapping for {t!r} must be one char"
            )
    char = None
    for t, c in mapping.items():
        char = (
            F.when(F.col(type_col) == t, F.lit(c))
            if char is None
            else char.when(F.col(type_col) == t, F.lit(c))
        )
    tiebreak = order_cols or []
    rows = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & char.isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.struct(
            F.col(ts_col).alias("ts"),
            *[F.col(c).alias(f"o{i}") for i, c in enumerate(tiebreak)],
            char.alias("c"),
        ).alias("__s"),
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list("__s")), lambda s: s["c"]
        ),
        "",
    )
    return (
        rows.groupBy("__k")
        .agg(seq.alias("__seq"))
        .select(
            F.col("__k").alias(key_col),
            F.length("__seq").cast("long").alias("seq_len"),
            F.size(F.regexp_extract_all(F.col("__seq"), F.lit(pattern), F.lit(0)))
            .cast("long")
            .alias("n_matches"),
            F.regexp_extract(F.col("__seq"), pattern, 0).alias("first_match"),
        )
    )


def frequent_subsequences(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    item_col: str = "event_type",
    order_cols: list[str] | None = None,
    min_support: int = 2,
) -> DataFrame:
    """Sequential-pattern support counting (the PrefixSpan / SPADE
    support semantics, closed-form at pattern length <= 3): for every
    ordered pattern A, A>B, A>B>C over the item alphabet, the number of
    KEYS whose event sequence contains the pattern as a subsequence
    (existential, arbitrary gaps — each key counts once no matter how
    many embeddings). The behavior-mining twin of the fixed-stage
    funnel: `funnel_stages` asks "did THIS path happen", this asks
    "WHICH paths happen often".

    The trick that avoids enumerating embeddings: a key contains A>B
    iff first_pos(A) < last_pos(B), so length-2 support needs only the
    per-(key, item) MIN/MAX position table — and length-3 support needs
    one more pass: first_pos(B after first A) via a positions×alphabet
    join, then the same last-pos test against C. Equality of items is
    handled for free (A>A iff first(A) < last(A) ⇔ two occurrences).

    Output: ``(pattern, length, support)`` for patterns with
    ``support >= min_support``; pattern items are joined with ``>``.

    Scale shape: one per-key window (row_number — keyed partition,
    bounded per key), one (key, item) aggregate, then joins whose
    fan-out is the ITEM ALPHABET per key (alphabet-bounded, suited to
    event-type-sized alphabets — tens, not thousands; the alphabet³
    result frame is tiny). No data×data join, no embedding explosion:
    a key with a million events contributes |alphabet|² rows to the
    length-2 stage regardless of sequence length.
    """
    order_cols = order_cols or ["ts", "event_id"]
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    ev = events.filter(
        F.col(key_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        F.col(key_col).alias("__k"),
        F.col(item_col).cast("string").alias("__it"),
        F.row_number().over(w).alias("__p"),
    )
    t = ev.groupBy("__k", "__it").agg(
        F.min("__p").alias("__fp"), F.max("__p").alias("__lp")
    )
    one = t.groupBy(F.col("__it").alias("pattern")).agg(
        F.count(F.lit(1)).cast("long").alias("support")
    ).select("pattern", F.lit(1).cast("long").alias("length"), "support")
    a = t.select(
        "__k", F.col("__it").alias("__ia"), F.col("__fp").alias("__fa")
    )
    b = t.select(
        "__k", F.col("__it").alias("__ib"), F.col("__lp").alias("__lb")
    )
    two = (
        a.join(b, "__k")
        .filter(F.col("__fa") < F.col("__lb"))
        .groupBy("__ia", "__ib")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .select(
            F.concat_ws(">", "__ia", "__ib").alias("pattern"),
            F.lit(2).cast("long").alias("length"),
            "support",
        )
    )
    # first occurrence of B strictly after the first A: the positions
    # frame meets the per-key alphabet (fan-out |alphabet| per event
    # row, alphabet-bounded).
    fab = (
        ev.join(a, "__k")
        .filter(F.col("__p") > F.col("__fa"))
        .groupBy("__k", "__ia", F.col("__it").alias("__ib"))
        .agg(F.min("__p").alias("__fab"))
    )
    c = t.select(
        "__k", F.col("__it").alias("__ic"), F.col("__lp").alias("__lc")
    )
    three = (
        fab.join(c, "__k")
        .filter(F.col("__lc") > F.col("__fab"))
        .groupBy("__ia", "__ib", "__ic")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .select(
            F.concat_ws(">", "__ia", "__ib", "__ic").alias("pattern"),
            F.lit(3).cast("long").alias("length"),
            "support",
        )
    )
    res = one.unionByName(two).unionByName(three)
    return res.filter(F.col("support") >= int(min_support))
