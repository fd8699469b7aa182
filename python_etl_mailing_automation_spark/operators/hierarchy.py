"""Hierarchy flattening by pointer jumping (iterative doubling).

Spark has no recursive CTE, so "walk every node to its root" (org
charts, BOM trees, category taxonomies, reply chains) needs an
iterative plan. Naive per-level iteration costs O(depth) joins; POINTER
JUMPING (the classic PRAM list-ranking technique — Wyllie 1979, the
same doubling Blelloch's scan literature builds on) replaces each
node's ancestor pointer with its ancestor's ancestor every round, so
covered path length DOUBLES per round: O(log depth) self-joins total,
each a plain key equi-join.

This is the engine's third iterative-algorithm family, alongside Lloyd
k-means (driver-synced tiny aggregate per round) and connected-component
label propagation (frontier shrinks per round); here the per-round work
is constant-size (one self-join of the n-row pointer table) and the
round COUNT is logarithmic — the right shape when depth is large but
log(depth) is small.

Driver state per round: one converged/not-converged count — nothing
scales with the data. A per-round ``detach`` truncates the iterative
lineage exactly as the other two families do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..detach import detach


def pointer_jump_roots(
    edges: DataFrame,
    *,
    node_col: str = "node",
    parent_col: str = "parent",
    max_rounds: int = 20,
) -> DataFrame:
    """Resolve every node of a forest to ``(node, root, depth)``.

    ``edges`` has one row per node; roots point to themselves (or carry
    a NULL parent). ``max_rounds`` bounds the doubling loop — 20 rounds
    covers depth 2^20; deeper chains raise rather than silently return
    partial ancestors. Cycles are DETECTED, not survived: a cycle node's
    pointer eventually lands on itself (the doubling wraps the cycle),
    which looks converged but is not a real root — the post-check joins
    every resolved root back to the edge list and raises if any root is
    not a genuine self-parent node.
    """
    state = detach(edges.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("anc"),
        F.when(
            F.col(parent_col).isNull()
            | (F.col(parent_col) == F.col(node_col)),
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    ), eager=True)

    for _ in range(max_rounds):
        hop = state.select(
            F.col("node").alias("__h_node"),
            F.col("anc").alias("__h_anc"),
            F.col("depth").alias("__h_depth"),
        )
        # LEFT join: a pointer whose ancestor has no node row (a
        # DANGLING parent) keeps its current ancestor instead of
        # silently vanishing from the result — it then "converges"
        # pointing at the dangling id, which the root post-check below
        # rejects loudly.
        nxt = (
            state.join(hop, on=F.col("anc") == F.col("__h_node"), how="left")
            .select(
                "node",
                F.coalesce(F.col("__h_anc"), F.col("anc")).alias("anc"),
                (
                    F.col("depth")
                    + F.coalesce(F.col("__h_depth"), F.lit(0).cast("long"))
                ).alias("depth"),
            )
            .transform(lambda d: detach(d, eager=True))
        )
        # converged when every pointer already sits on a root (its
        # ancestor's ancestor is itself): the doubling was a no-op.
        moved = (
            nxt.select(F.col("node"), F.col("anc").alias("a2"))
            .join(
                state.select(
                    F.col("node"), F.col("anc").alias("a1")
                ),
                on="node",
            )
            .filter(F.col("a1") != F.col("a2"))
            .count()
        )
        state = nxt
        if moved == 0:
            result = state.select(
                "node", F.col("anc").alias("root"), "depth"
            )
            real_roots = edges.filter(
                F.col(parent_col).isNull()
                | (F.col(parent_col) == F.col(node_col))
            ).select(F.col(node_col).alias("__r"))
            bad = result.join(
                real_roots, on=F.col("root") == F.col("__r"), how="left_anti"
            ).count()
            if bad:
                raise ValueError(
                    f"pointer_jump_roots: {bad} nodes resolve to a "
                    "non-root ancestor — the graph contains a cycle or "
                    "a dangling parent id with no node row"
                )
            return result
    raise ValueError(
        f"pointer_jump_roots: not converged after {max_rounds} doubling "
        "rounds — cycle present or depth exceeds 2^rounds"
    )


def subtree_rollup(
    nodes: DataFrame,
    *,
    id_col: str = "node",
    parent_col: str = "parent",
    value_col: str = "value",
) -> DataFrame:
    """Bottom-up hierarchical aggregate (bill-of-materials rollup, org
    headcount, category revenue): for every node, the SUM of
    ``value_col`` over its entire descendant subtree, itself included,
    plus the subtree node count. The recursive-CTE aggregate Spark
    lacks, built from the same doubling idea as
    :func:`pointer_jump_roots`: the ancestor closure squares each
    round (C ∪ C∘C, distinct), so depth-d hierarchies close in
    ⌈log₂ d⌉ self-joins — then ONE keyed aggregate over
    (descendant, ancestor) pairs folds the values. Never a per-level
    upward pass (O(depth) joins), never a per-node walk.

    Parent pointers outside the node set (or NULL) mark roots; a
    node's own value always counts (identity pairs union the closure).
    Values fold as BIGINT — exact, order-independent.

    Convergence-checked like the SCC fixpoints: the closure either
    stabilizes within 12 squarings (2^12 depth headroom) or the
    operator RAISES — a half-closed hierarchy
    would silently under-report every deep subtree.

    Scale shape: each round one self-equi-join of the closure on the
    middle node + distinct; closure cardinality is Σ depth(v) (n·d
    worst case for a path, n·log-ish for balanced trees); the final
    fold is one map-side-combinable aggregate on the ancestor key.
    CYCLES (bad data) close to a FINITE fixpoint (a cycle's closure
    contains its own (x, x) pairs), so they cannot be caught as
    non-convergence — the operator checks for reflexive closure pairs
    after stabilizing and raises, the honest outcome for a
    "hierarchy" containing a cycle (silently, each cycle member would
    double-count itself via the identity union).
    """
    vals = nodes.select(
        F.col(id_col).alias("node"),
        F.col(value_col).cast("long").alias("__v"),
    ).filter(F.col("node").isNotNull())
    node_set = vals.select("node").distinct()
    edges = (
        nodes.select(
            F.col(id_col).alias("__d"), F.col(parent_col).alias("__a")
        )
        .filter(
            F.col("__d").isNotNull()
            & F.col("__a").isNotNull()
            & (F.col("__d") != F.col("__a"))
        )
        .join(node_set.select(F.col("node").alias("__a")), "__a", "left_semi")
        .distinct()
    )
    closure = detach(edges)
    n = closure.count()
    for _ in range(12):
        step = closure.alias("l").join(
            closure.alias("r"), F.col("l.__a") == F.col("r.__d")
        ).select(F.col("l.__d").alias("__d"), F.col("r.__a").alias("__a"))
        grown = detach(closure.unionByName(step).distinct())
        n2 = grown.count()
        if n2 == n:
            break
        closure, n = grown, n2
    else:
        raise RuntimeError(
            "subtree_rollup: closure did not stabilize within 12 squarings "
            "— deeper than 2^12"
        )
    if closure.filter(F.col("__d") == F.col("__a")).limit(1).count() > 0:
        raise ValueError("subtree_rollup: cycle detected in parent pointers")
    pairs = closure.unionByName(
        node_set.select(F.col("node").alias("__d"), F.col("node").alias("__a"))
    )
    return (
        pairs.join(vals, F.col("__d") == F.col("node"))
        .groupBy("__a")
        .agg(
            F.sum("__v").cast("long").alias("subtree_sum"),
            F.count(F.lit(1)).cast("long").alias("subtree_nodes"),
        )
        .select(F.col("__a").alias(id_col), "subtree_sum", "subtree_nodes")
    )
