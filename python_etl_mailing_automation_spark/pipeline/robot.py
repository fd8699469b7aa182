"""Robot (dialer) sub-pipeline (SURVEY.md §3.1 stage 3 robot branch).

Reference: ``gerar_arquivo_robo_mestre`` (gerador_robo_mestre.py:21-140):
parse due dates → rank invoices per CPF by due date → keep top 3 → pivot
wide → head row per CPF → join → layout → money formats → route to
time-slot groups (one frame tagged with its slot).

Spark shape (``strategy="agg"``, default): ONE hash aggregation on CPF —
``array_sort(collect_list(struct))`` yields the top-3 invoices and
``min(struct(order…, attrs…))`` the head row, so the whole sub-pipeline
is a single shuffle with map-side partial aggregation. At 100 TB this
beats the window formulation by avoiding three per-partition sorts, a
pivot aggregate, and a self-join; per-group state is bounded by the
invoice count per CPF (single digits in the reference's domain).

``strategy="window"`` keeps the direct transcription — two window passes
+ one pivot + one join, all shuffling on CPF — for comparison and for
inputs where per-key invoice lists are unbounded. Both use explicit
priority ordering for the head row (the reference consumed the ambient
global sort — SURVEY.md §7.3-1). Ordering-column nulls: the window path
sorts them first (Spark default), the agg path last (`array_sort`);
identical results whenever ordering columns are non-null (the pipeline
filters null due dates either way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..functions.dates import format_date_br
from ..functions.money import format_money_robot
from ..operators.ordering import head_row_per_group
from ..operators.pivot import rank_pivot_wide


def build_robot_output(
    robot_df: DataFrame,
    config: PipelineConfig,
    *,
    cpf_col: str = "CPF",
    due_col: str = "dtvenc",
    value_col: str = "liquido",
    barcode_col: str = "codbarra",
    strategy: str = "agg",
    sum_total_col: str | None = None,
) -> DataFrame:
    """One row per CPF with per-rank invoice columns
    ``dtvenc_1..3 / liquido_1..3 / codbarra_1..3`` plus the head row's
    attributes and robot-formatted money columns.

    ``sum_total_col``: name of an output column to fill with the per-CPF
    decimal sum of ``value_col`` (the A1 debt total). Folding it into the
    same aggregation deletes the separate window pass a
    ``sum().over(partitionBy(cpf))`` pre-step would cost — one shuffle
    total for the whole sub-pipeline. The sum covers the rows that pass
    the due-date guard (same as the ranked invoices). Decimal(18,2)
    accumulate → double, partition-order independent.
    """
    cols = set(robot_df.columns)
    if sum_total_col is not None:
        cols.add(sum_total_col)
    have_barcode = barcode_col in cols
    df = robot_df.filter(F.col(due_col).isNotNull())  # P8 guard (:41)

    value_cols = [due_col, value_col] + ([barcode_col] if have_barcode else [])
    head_cols = [
        c
        for c in robot_df.columns
        if c not in {cpf_col, due_col, value_col, barcode_col}
    ]
    head_order_cols = (
        ["priority_level"] if "priority_level" in cols else []
    ) + [due_col, value_col]

    if strategy == "agg":
        # Struct field order IS the sort order: lexicographic struct
        # comparison makes array_sort/min reproduce (due asc, value asc)
        # and the head's (priority?, due, value) without any window.
        inv = F.struct(*[F.col(c).alias(c) for c in value_cols])
        head_struct = F.struct(
            *[F.col(c).alias(f"__o{i}") for i, c in enumerate(head_order_cols)],
            *[F.col(c).alias(c) for c in head_cols],
        )
        aggs = [
            F.slice(F.array_sort(F.collect_list(inv)), 1, 3).alias("__invs"),
            F.min(head_struct).alias("__head"),
        ]
        if sum_total_col is not None:
            aggs.append(
                F.sum(F.col(value_col).cast("decimal(18,2)"))
                .cast("double")
                .alias(sum_total_col)
            )
        agged = df.groupBy(F.col(cpf_col)).agg(*aggs)
        out = agged.select(
            F.col(cpf_col),
            *([sum_total_col] if sum_total_col is not None else []),
            *[F.col(f"__head.{c}").alias(c) for c in head_cols],
            # F.get (not []) so a <3-invoice CPF yields nulls under ANSI.
            *[
                F.get("__invs", i - 1).getField(c).alias(f"{c}_{i}")
                for i in (1, 2, 3)
                for c in value_cols
            ],
        )
    elif strategy == "window":
        if sum_total_col is not None:
            from pyspark.sql import Window

            df = df.withColumn(
                sum_total_col,
                F.sum(F.col(value_col).cast("decimal(18,2)"))
                .over(Window.partitionBy(cpf_col))
                .cast("double"),
            )
            head_cols = [sum_total_col] + head_cols
        order = [F.col(due_col).asc(), F.col(value_col).asc()]
        wide = rank_pivot_wide(df, cpf_col, order, value_cols, k=3)

        # A5: head row per CPF under explicit priority order.
        head_order = [F.col(c).asc() for c in head_order_cols]
        head = head_row_per_group(df, cpf_col, head_order).select(
            cpf_col, *head_cols
        )

        out = head.join(wide, on=cpf_col, how="left")  # J2: one-row-per-CPF
    else:
        raise ValueError(f"unknown strategy: {strategy!r}")
    for i in (1, 2, 3):
        out = out.withColumn(
            f"valorParcela_{i}", format_money_robot(F.col(f"{value_col}_{i}"))
        ).withColumn(f"dataVencimento_{i}", format_date_br(F.col(f"{due_col}_{i}")))
    if "valorDivida" in cols:
        out = out.withColumn("valorTotal", format_money_robot(F.col("valorDivida")))
    return out


# Column naming a robot row's time slot: the robot family's routing tag,
# dropped before the files are written.
SLOT_COL = "__slot"


def time_slots(config: PipelineConfig) -> list[str]:
    """The robot family's slot names in config order; one ``mestre``
    slot holding every row when no groups are configured."""
    return list(config.robot_time_slot_groups) or ["mestre"]


def route_by_time_slot(
    robot_output: DataFrame, config: PipelineConfig, *, product_col: str = "PRODUTO"
) -> DataFrame:
    """S7: tag the robot output with its config-driven time-slot groups
    (gerador_robo_mestre.py:120-138; groups config.ini:163-165).

    Returns ONE frame with ``SLOT_COL`` naming the slot, so a single
    partitioned write produces every slot file. A row is repeated once
    per slot whose product list holds its product (overlapping groups
    keep writing the product to each slot's file) and dropped when no
    slot lists it, exactly as one ``isin`` filter per slot would. With
    no groups configured every row goes to the one slot of
    :func:`time_slots`.
    """
    groups = config.robot_time_slot_groups
    if not groups:
        return robot_output.withColumn(SLOT_COL, F.lit(time_slots(config)[0]))
    slots = F.array(*[
        F.when(F.col(product_col).isin(products), F.lit(slot))
        for slot, products in groups.items()
    ])
    return robot_output.withColumn(
        SLOT_COL, F.explode(F.filter(slots, lambda s: s.isNotNull()))
    )
