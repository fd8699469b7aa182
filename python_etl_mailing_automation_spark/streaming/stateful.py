"""Exact-tier document curation: quality gate → canonical digest → exact
dedup → ledger anti-join, as one batch plan. The MinHash/LSH near-dup
tier is ``datapipe.curation.curate_corpus``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def curate_documents_batch(
    docs: DataFrame,
    store: DataFrame | None = None,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_stop_ratio: float = 0.5,
) -> DataFrame:
    """Quality gate → canonical digest → exact dedup → ledger anti-join,
    keeping the first-ID row (``min(id_col)``) per digest. The min-id
    choice makes the output engine-reproducible and therefore
    oracle-checkable (a plain ``dropDuplicates`` keeps an arbitrary
    partition-dependent row).

    Scale shape: gate + digest are scan-speed column algebra; the dedup
    is one shuffle on the 32-byte digest with a map-side-combined min;
    the ledger anti-join shuffles only the survivors against the
    distinct-digest store.
    """
    from ..datapipe.text import normalize_text, quality_score

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


