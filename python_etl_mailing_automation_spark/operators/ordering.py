"""Ordering / ranking / priority operators (SURVEY.md §2.6 + §2.5 W3).

The reference's priority sort is a *global* sort whose only observable
effect is output-file row order plus the head-row pick (A5). At 100 TB a
global sort is the most expensive thing you can ask of a cluster, so the
engine exposes the priority as a *column* (usable in window orderBy / range
partitioning / `sortWithinPartitions`) and keeps per-group ranking as
windows — never a global ordering dependency.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def with_priority_level(
    df: DataFrame,
    match_cols: Sequence[str],
    priority_order: Sequence[str],
    *,
    out_col: str = "priority_level",
) -> DataFrame:
    """O1: case-mapped priority level with **last-match-wins** semantics.

    Reference (processing_pipeline.py:253-275): for each status in the
    ordered list, rows where ANY of the match columns uppercased equals the
    status get level=i — later list entries overwrite earlier ones; rows
    matching nothing get ``len(priority_order)``.

    Built as a folded ``when`` chain where entry *i* wraps the accumulated
    expression (so the highest matching index wins), exactly reproducing
    the overwrite order (SURVEY.md §7.3 risk 4).
    """
    level: Column = F.lit(len(priority_order))
    for i, status in enumerate(priority_order):
        cond = None
        for mc in match_cols:
            eq = F.upper(F.trim(F.col(mc).cast("string"))) == F.lit(status.upper())
            cond = eq if cond is None else (cond | eq)
        level = F.when(cond, F.lit(i)).otherwise(level)
    return df.withColumn(out_col, level)


def rank_in_group(
    df: DataFrame,
    key: str | Sequence[str],
    order_by: Sequence[Column],
    *,
    out_col: str = "rank_in_group",
) -> DataFrame:
    """A6/W3: 1-based rank within group (pandas ``cumcount()+1`` after a
    sort, gerador_robo_mestre.py:43-44) as a ``row_number`` window."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(out_col, F.row_number().over(w))


def top_k_per_group(
    df: DataFrame,
    key: str | Sequence[str],
    order_by: Sequence[Column],
    k: int,
    *,
    rank_col: str = "rank_in_group",
) -> DataFrame:
    """O2: per-group top-k (rank ≤ k invoices per CPF,
    gerador_robo_mestre.py:46). Single shuffle; no global sort."""
    return rank_in_group(df, key, order_by, out_col=rank_col).filter(F.col(rank_col) <= k)


def head_row_per_group(
    df: DataFrame, key: str | Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """A5/O4: explicit-order head row per group.

    The reference's ``groupby(CPF).first()`` silently consumed the global
    priority sort (gerador_robo_mestre.py:57 after
    processing_pipeline.py:355); here the ordering keys are explicit window
    keys — deterministic on any cluster (SURVEY.md §7.3 risk 1).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    rn = "__head_rn"
    return df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) == 1).drop(rn)


def morton_key(
    x: Column | str,
    y: Column | str,
    *,
    bits: int = 16,
) -> Column:
    """Z-order (Morton) interleaving of two non-negative integer
    dimensions — the multi-dimensional clustering key behind lakehouse
    Z-ORDER data skipping: range-partitioning and sorting files by this
    key gives every file a tight bounding box in BOTH dimensions, so
    min/max pruning works for predicates on either column, not just the
    leading sort key.

    Pure bit algebra (2·``bits`` shift/mask terms, codegen'd, no UDF):
    bit i of x lands at position 2i, bit i of y at 2i+1. Inputs are
    masked to ``bits`` (callers quantize/clamp first — rank or bucket
    the raw values when their range exceeds 2^bits). bits <= 31 keeps
    the result in a signed 64-bit long.
    """
    if not 1 <= bits <= 31:
        raise ValueError("morton_key: bits must be in [1, 31]")
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + (
            F.shiftleft(F.shiftright(xc, i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(F.shiftright(yc, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return key


def with_hilbert_key(
    df: DataFrame,
    x: Column | str,
    y: Column | str,
    *,
    bits: int = 16,
    out_col: str = "hkey",
) -> DataFrame:
    """Hilbert-curve index of two non-negative integer dimensions — the
    locality-tighter sibling of :func:`morton_key`. A Z-order file sort
    keeps most nearby cells in the same file but crosses the space in
    big diagonal jumps at power-of-two boundaries; the Hilbert curve is
    continuous (every step moves one cell), so range predicates on
    either dimension touch measurably fewer files at the same file
    size — the layout used when two-column pruning is the dominant
    read pattern (Delta/Iceberg both offer it for exactly this
    reason).

    DataFrame-level on purpose: the index is the classic per-level
    rotate-and-flip state machine (Wikipedia's ``xy2d``), ``bits``
    chained projections each updating a bounded (x, y, d) triple.
    A Column-returning form would inline each level's CASE into the
    next ~3× over and explode exponentially; named per-level columns
    keep the plan linear in ``bits`` while whole-stage codegen still
    fuses all levels into one stage. Values are confined to
    ``[0, 2^level)`` at every level (``s-1-x`` on the CONFINED value —
    congruent mod s to the full-width C idiom, but provably
    sign-free on any engine's integer semantics), and the oracle
    mirrors the same chain as generated CTEs.

    Inputs are masked to ``bits`` (quantize/clamp first when the raw
    range exceeds 2^bits); bits <= 31 keeps d = sum s²·quadrant in a
    signed 64-bit long.
    """
    if not 1 <= bits <= 31:
        raise ValueError("with_hilbert_key: bits must be in [1, 31]")
    xc = (F.col(x) if isinstance(x, str) else x).cast("long")
    yc = (F.col(y) if isinstance(y, str) else y).cast("long")
    mask = (1 << bits) - 1
    out = df.select(
        "*",
        xc.bitwiseAND(F.lit(mask)).alias("__hx"),
        yc.bitwiseAND(F.lit(mask)).alias("__hy"),
        F.lit(0).cast("long").alias("__hd"),
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.shiftright(F.col("__hx"), i).bitwiseAND(F.lit(1))
        ry = F.shiftright(F.col("__hy"), i).bitwiseAND(F.lit(1))
        quadrant = (F.lit(3) * rx).bitwiseXOR(ry)
        xl = F.col("__hx").bitwiseAND(F.lit(s - 1))
        yl = F.col("__hy").bitwiseAND(F.lit(s - 1))
        new_x = (
            F.when(ry == 1, xl)
            .when(rx == 1, F.lit(s - 1) - yl)
            .otherwise(yl)
        )
        new_y = (
            F.when(ry == 1, yl)
            .when(rx == 1, F.lit(s - 1) - xl)
            .otherwise(xl)
        )
        out = out.select(
            *[c for c in out.columns if c not in ("__hx", "__hy", "__hd")],
            new_x.alias("__hx"),
            new_y.alias("__hy"),
            (
                F.col("__hd") + F.lit(s) * F.lit(s) * quadrant.cast("long")
            ).alias("__hd"),
        )
    return out.select(
        *[c for c in out.columns if c not in ("__hx", "__hy", "__hd")],
        F.col("__hd").alias(out_col),
    )
