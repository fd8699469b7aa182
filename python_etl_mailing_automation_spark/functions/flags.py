"""Conditional flags (SURVEY.md §2.8 F10)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def conditional_flag_sim_nao(col: Column | str) -> Column:
    """F10: ``Cliente_Regulariza`` semantics
    (processing_pipeline.py:188-193): SIM iff value present and not ``'N'``
    (case/whitespace-insensitive); null/absent → ``'NÃO'``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull() & (F.upper(F.trim(c.cast("string"))) != "N"), F.lit("SIM")
    ).otherwise(F.lit("NÃO"))
