"""Skew mitigation: salted join for hot keys.

AQE's skew-join splitting (on in the session factory) handles most skew
automatically; this operator is the *explicit* form for when the planner
can't help — e.g. a hot key joining a non-broadcastable side, or a
deliberate salt-bucket count tuned from known key histograms.

Shape: the skewed (probe) side gets a uniform salt in ``[0, n)``; the
build side is replicated n times, once per salt; the join key becomes
``(key, salt)`` so the hot key's rows spread over n shuffle partitions
instead of one. Join OUTPUT is identical to the unsalted join for any
salt assignment — the salt only changes physical placement — so
correctness is oracle-checkable against a plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    *,
    skewed_key: str,
    small_key: str,
    num_salts: int = 8,
) -> DataFrame:
    """Inner equi-join where the ``skewed`` side's hot keys are
    salt-spread; semantics identical to the plain join.

    ``small`` is replicated ``num_salts``× (keep it the dimension side).
    """
    salted = skewed.withColumn(
        "__salt", (F.rand(seed=42) * num_salts).cast("int")
    )
    replicated = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1)))
    )
    out = salted.join(
        replicated,
        on=[
            salted[skewed_key] == replicated[small_key],
            salted["__salt"] == replicated["__salt"],
        ],
        how="inner",
    )
    return out.drop("__salt")
