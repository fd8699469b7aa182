"""Spatial/grid proximity — radius joins via cell bucketing.

The quadratic formulation ("every point against every point, keep pairs
within r") is the canonical accidental-cross-join; the relational-engine
shape is CELL BUCKETING: quantize each point to a grid cell of side r,
explode one side to its 3×3 cell neighborhood, equi-join on the cell
key, then verify the exact distance on the surviving candidates only —
every true pair shares adjacent cells by the triangle inequality, and
each pair is produced exactly once because the probe side explodes while
the build side keeps its single home cell.

Coordinates are INTEGER units end to end (callers pick the resolution —
milli-units, micro-degrees, whatever): the squared-distance verify is
exact BIGINT algebra, so no haversine/trig (libm results differ across
engines) and no float comparison at the radius boundary ever appears.
For geographic data quantize lon·cos(lat band) upstream or accept the
per-band cell stretch; this module is the bucketing engine, not a
geodesy library.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..detach import detach, held


def proximity_join_grid(
    a: DataFrame,
    b: DataFrame,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    radius: int,
) -> DataFrame:
    """All (a, b) pairs with squared Euclidean distance <= radius² in
    integer coordinate units. Returns ``(id_a, id_b, dist2)`` —
    ``dist2`` the exact BIGINT squared distance (callers sqrt for
    display; the join itself never needs the irrational).

    Self-join use: pass the same frame twice and filter
    ``id_a < id_b`` downstream (kept out of this operator so R-S
    linkage — stores vs couriers, cells vs towers — stays the primary
    shape).

    Scale shape: one 9× explode of A (bounded, literal offsets), one
    equi-join on the composite cell key, exact verify on candidates.
    Cell side = radius bounds candidates to the 9-cell neighborhood's
    occupancy — the output-bound argument: a uniform distribution puts
    O(density·r²) candidates per probe; pathological hot cells are the
    usual skew levers (AQE, salting the probe explode). Never n².
    """
    if radius < 1:
        raise ValueError("proximity_join_grid: radius must be >= 1")
    r = F.lit(int(radius)).cast("long")

    def cells(df: DataFrame, side: str, explode_nbrs: bool) -> DataFrame:
        x = F.col(x_col).cast("long")
        y = F.col(y_col).cast("long")
        base = df.filter(x.isNotNull() & y.isNotNull()).select(
            F.col(id_col).alias(f"id_{side}"),
            x.alias(f"__x{side}"),
            y.alias(f"__y{side}"),
            F.floor(x / r).cast("long").alias("__cx"),
            F.floor(y / r).cast("long").alias("__cy"),
        )
        if not explode_nbrs:
            return base
        off = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dx).cast("long").alias("dx"),
                        F.lit(dy).cast("long").alias("dy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("__o")
        return base.select(
            f"id_{side}",
            f"__x{side}",
            f"__y{side}",
            "__cx",
            "__cy",
            off,
        ).select(
            f"id_{side}",
            f"__x{side}",
            f"__y{side}",
            (F.col("__cx") + F.col("__o.dx")).alias("__cx"),
            (F.col("__cy") + F.col("__o.dy")).alias("__cy"),
        )

    pa = cells(a, "a", True)
    pb = cells(b, "b", False)
    dx = F.col("__xa") - F.col("__xb")
    dy = F.col("__ya") - F.col("__yb")
    return (
        pa.join(pb, ["__cx", "__cy"])
        .select(
            "id_a",
            "id_b",
            (dx * dx + dy * dy).cast("long").alias("dist2"),
        )
        .filter(F.col("dist2") <= r * r)
    )


def density_clusters(
    points: DataFrame,
    *,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
    eps: int,
    min_pts: int,
    max_iterations: int = 40,
) -> DataFrame:
    """Grid DBSCAN (Ester et al. 1996) composed from this module's
    bucketed radius join and the engine's delta-frontier CC closure —
    density clustering without a single all-pairs comparison:

    1. neighbor pairs within ``eps`` via :func:`proximity_join_grid`
       (self-join form; the (p, p) self-pair makes the neighborhood
       count self-inclusive, the textbook definition);
    2. CORE points: ``|N_eps(p)| >= min_pts``;
    3. clusters = connected components over core-core ``eps`` edges
       (min-core-id labels via :func:`..dedup.dedup_clusters_star` —
       the alternating-star closure, because geometric eps-graphs have
       diameter ~ extent/eps and min-propagation would pay a round per
       hop);
    4. BORDER points: non-core with a core neighbor, assigned the
       MINIMUM neighboring core's cluster id (the deterministic
       tie-break; plain DBSCAN leaves border assignment
       visit-order-dependent, which an oracle-checked engine cannot);
    5. everything else is NOISE (NULL cluster).

    Returns ``(id, role, cluster_id)``, role ∈ core/border/noise.

    Scale shape: the only superlinear hazard is the radius join's
    9-cell occupancy (output-bound, documented there); degree count,
    core filter, and border assignment are keyed aggregates; the
    closure is the delta-frontier propagation with its measured
    shallow-graph behavior. Deterministic end to end — roles and
    labels are set-defined, no scan order anywhere.
    """
    if min_pts < 1:
        raise ValueError("density_clusters: min_pts must be >= 1")
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).filter(
        F.col("id").isNotNull()
        & F.col("x").isNotNull()
        & F.col("y").isNotNull()
    )
    # pairs feeds the degree count, the core-edge build, and the border
    # assignment — held for the call, released after the result is
    # materialized (the graph-module no-leak contract)
    pairs = proximity_join_grid(
        pts, pts, id_col="id", x_col="x", y_col="y", radius=eps
    )
    with held() as hold:
        pairs = hold(pairs)
        deg = pairs.groupBy("id_a").agg(
            F.count(F.lit(1)).cast("long").alias("__deg")
        )
        core = deg.filter(F.col("__deg") >= min_pts).select(
            F.col("id_a").alias("id")
        )
        core_edges = (
            pairs.filter(F.col("id_a") < F.col("id_b"))
            .join(core.select(F.col("id").alias("id_a")), "id_a", "left_semi")
            .join(core.select(F.col("id").alias("id_b")), "id_b", "left_semi")
            .select("id_a", "id_b")
        )
        # geometric eps-graphs have diameter ~ extent/eps (a 25-hop chain
        # across the grid at the battery's parameters), which is exactly the
        # regime the alternating-star closure exists for: O(log² n) rounds
        # vs diameter-many min-propagation rounds (measured 38 s -> see
        # SCALING round-8 batch-3 for the swap datapoint)
        from .dedup import dedup_clusters_star

        labeled_cores = dedup_clusters_star(
            core.select(F.col("id").alias("doc_id")),
            core_edges.select(
                F.col("id_a").alias("doc_id_a"), F.col("id_b").alias("doc_id_b")
            ),
            max_iterations=max_iterations,
        ).select(F.col("doc_id").alias("id"), F.col("cluster_id"))
        # border: non-core with >= 1 core neighbor -> min neighboring core's
        # cluster (pairs are symmetric, so id_a side covers every point)
        border = (
            pairs.join(
                labeled_cores.select(
                    F.col("id").alias("id_b"), F.col("cluster_id").alias("__c")
                ),
                "id_b",
            )
            .join(labeled_cores.select(F.col("id").alias("id_a")), "id_a", "left_anti")
            .groupBy("id_a")
            .agg(F.min("__c").alias("cluster_id"))
            .select(F.col("id_a").alias("id"), "cluster_id")
        )
        return detach(
            pts.select("id")
            .join(
                labeled_cores.select(
                    "id", F.col("cluster_id").alias("__core_c")
                ),
                "id",
                "left",
            )
            .join(
                border.select("id", F.col("cluster_id").alias("__border_c")),
                "id",
                "left",
            )
            .select(
                "id",
                F.when(F.col("__core_c").isNotNull(), F.lit("core"))
                .when(F.col("__border_c").isNotNull(), F.lit("border"))
                .otherwise(F.lit("noise"))
                .alias("role"),
                F.coalesce("__core_c", "__border_c").alias("cluster_id"),
            ),
            eager=True,
        )
