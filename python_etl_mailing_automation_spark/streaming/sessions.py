"""Sessionization — gap-based session assignment.

The classic lag + cumulative-sum window pair: one shuffle on the user
key, exact, SQL-expressible (oracle-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import epoch_micros

DEFAULT_GAP_SECONDS = 30 * 60


def sessionize(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Assign a per-user 1-based ``session_seq`` to every event.

    A new session starts when the gap to the previous event of the same
    user exceeds ``gap_seconds`` (compared in exact microseconds —
    second-truncation would misclassify sub-second boundaries
    differently per engine). ``id_col`` makes the within-user order total
    (duplicate timestamps are real in event data).
    """
    order = [F.col(ts_col).asc(), F.col(id_col).asc()]
    w_lag = Window.partitionBy(user_col).orderBy(*order)
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_us = epoch_micros(ts_col, dict(events.dtypes)[ts_col])
    prev_us = F.lag(ts_us).over(w_lag)
    is_new = F.when(
        prev_us.isNull() | ((ts_us - prev_us) > gap_seconds * 1_000_000),
        1,
    ).otherwise(0)
    return events.withColumn(
        "session_seq", F.sum(is_new).over(w_run).cast("long")
    )

