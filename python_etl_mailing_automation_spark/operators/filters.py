"""Filter / segmentation operators with side outputs (SURVEY.md §2.2).

Scale notes: blocklists are config-sized literal lists → `isin` stays a
scan-level predicate (no join, pushes toward the source). Segmentation is
two filters over one cached upstream frame — Spark evaluates each branch
from the cache instead of recomputing the pipeline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import normalize_key


def blocked_status(status_col: str, blocklist: Sequence[str]) -> Column:
    """True where the normalized (trim+lower) status is blocklisted; never null."""
    block = [b.strip().lower() for b in blocklist]
    return F.col(status_col).isNotNull() & normalize_key(status_col).isin(block)


def blocklist_filter(
    df: DataFrame,
    status_col: str,
    blocklist: Sequence[str],
    *,
    reason_col: str = "motivo_remocao",
) -> tuple[DataFrame, DataFrame]:
    """P6+S8: drop rows whose normalized status is blocklisted; return
    ``(kept, rejected)`` where rejected carries the raw status as the
    removal reason.

    Reference: ``_remover_por_status_de_bloqueio``
    (processing_pipeline.py:195-226) with the rejected-rows side output
    (S8, :211-222). The blocklist is normalized the same way as the column
    (trim+lower), and — as in the reference config — may enumerate both
    clean and mojibake-corrupted variants so no repair UDF is needed on the
    hot path (config.ini:95-137).
    """
    is_blocked = blocked_status(status_col, blocklist)
    kept = df.filter(~is_blocked | F.col(status_col).isNull())
    rejected = df.filter(is_blocked).withColumn(reason_col, F.col(status_col))
    return kept, rejected


def segment_by_cutoff(
    df: DataFrame, value_col: str, cutoff: float
) -> tuple[DataFrame, DataFrame]:
    """P7: split into (human, robot) by ``value_col >= cutoff``.

    Edge case faithfully kept: ``cutoff == 0`` means BOTH sides receive the
    full dataset (processing_pipeline.py:285-291) — the same frame
    referenced twice, no data copied.
    """
    if cutoff == 0:
        return df, df
    human = df.filter(F.col(value_col) >= cutoff)
    robot = df.filter(F.col(value_col) < cutoff)
    return human, robot
