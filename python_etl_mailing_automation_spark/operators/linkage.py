"""Fuzzy record linkage — edit-distance joins without all-pairs.

The reference deduplicates customers only by exact normalized CPF
(`/root/reference/src/processing_pipeline.py:84-99`); real mailing feeds
also carry *misspelled* names and keys, which need an edit-distance
join. A naive fuzzy join is |L|x|R| levenshtein calls — dead at any
scale. This module uses the SymSpell / FastSS deletion-neighborhood
construction (Schulz & Mihov 2002's universal levenshtein automata
insight, popularized by the SymSpell spell-checker): two strings are
within levenshtein distance ``d`` ONLY IF deleting at most ``d`` chars
from each yields a common variant. Each side therefore explodes into a
small deterministic set of deletion variants, candidates come from an
equi-join on the md5 of the variant, and the exact levenshtein verify
runs on candidates only.

Scale shape (the whole point):
- per-row variant generation is pure column algebra (``transform`` over
  a ``sequence`` of positions) — no shuffle, whole-stage codegen;
- the candidate join shuffles on 32-hex md5 keys — uniform by
  construction, the same bucket-join shape as the MinHash LSH path
  (datapipe/dedup.py), never an all-pairs product;
- radius 1 emits len+1 variants per row, radius 2 ~ len^2/2 — the
  classic index-size/latency trade the SymSpell literature documents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def deletion_variants(col: Column | str, *, radius: int = 1) -> Column:
    """Array of all strings reachable from ``col`` by deleting at most
    ``radius`` characters (the string itself included), deduplicated.

    Radius is capped at 2: the deletion neighborhood grows ~len^radius
    and distance>2 linkage is better served by token-level methods
    (MinHash over shingles, datapipe/dedup.py).
    """
    if radius not in (1, 2):
        raise ValueError("deletion_variants: radius must be 1 or 2")
    c = F.col(col) if isinstance(col, str) else col

    def one_deletion(s: Column) -> Column:
        # Position grid materializes once per row; substr(pos, len) is
        # codegen'd — no UDF, no shuffle.
        return F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda p: F.concat(
                F.substr(s, F.lit(1), p - F.lit(1)),
                F.substr(s, p + F.lit(1), F.length(s)),
            ),
        )

    d1 = F.concat(F.array(c), one_deletion(c))
    if radius == 1:
        return F.array_distinct(d1)
    d2 = F.flatten(F.transform(d1, lambda v: F.concat(F.array(v), one_deletion(v))))
    return F.array_distinct(d2)


def fuzzy_join_edit(
    left: DataFrame,
    right: DataFrame,
    *,
    left_id: str,
    right_id: str,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All (left, right) pairs with ``levenshtein(left_col, right_col)
    <= max_dist`` (``max_dist`` in {1, 2}), found via the deletion-
    neighborhood candidate join — never an all-pairs product.

    Returns columns ``(left_id, right_id, left_col, right_col, dist)``.
    Soundness: levenshtein(a, b) <= d implies the radius-d deletion
    neighborhoods intersect (delete the edited positions from both),
    so the candidate join loses no true pair; the explicit levenshtein
    filter then removes false candidates — exact output, candidate-only
    verification cost.

    A self-join is this join of a frame with itself, each side's columns
    aliased apart, plus ``left_id < right_id``. ``max_dist=2`` explodes
    about len²/2 variants per row (len+1 at radius 1); no query uses it.
    """
    from ..datapipe.text import spread_for_explode

    if max_dist not in (1, 2):
        raise ValueError("fuzzy_join_edit: max_dist must be 1 or 2")
    if {left_id, left_col} & {right_id, right_col}:
        # both sides' columns survive into one joined frame — shared
        # names would make the final select ambiguous (self-linkage
        # callers alias one side first, as entity resolution does)
        raise ValueError(
            "fuzzy_join_edit: left and right id/value column names must "
            "be disjoint — alias one side before joining"
        )

    def side(df: DataFrame, id_c: str, s_c: str, prefix: str) -> DataFrame:
        # ~len^radius row amplification — rebalance tiny scans first
        # (no-op on many-split production tables, see spread_for_explode).
        return (
            spread_for_explode(df.select(id_c, s_c))
            .select(
                F.col(id_c),
                F.col(s_c),
                F.explode(deletion_variants(s_c, radius=max_dist)).alias("__v"),
            )
            .select(id_c, s_c, F.md5(F.col("__v")).alias(f"{prefix}_vh"))
        )

    lv = side(left, left_id, left_col, "l")
    rv = side(right, right_id, right_col, "r")
    pairs = (
        lv.join(rv, on=F.col("l_vh") == F.col("r_vh"))
        # Strings ride along through the distinct (functionally dependent
        # on the ids) so no join-back is needed to verify.
        .select(left_id, right_id, left_col, right_col)
        .distinct()
        .withColumn("dist", F.levenshtein(F.col(left_col), F.col(right_col)))
        .filter(F.col("dist") <= max_dist)
    )
    return pairs
