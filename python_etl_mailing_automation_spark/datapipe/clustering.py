"""Embedding clustering — fixed-iteration Lloyd k-means, the coarse
codebook / semantic-grouping primitive behind IVF indexes and
SemDeDup-style semantic dedup (Abbas et al. 2023: cluster embeddings,
then prune near-duplicates within each cluster).

Iterative-algorithm shape on Spark: each Lloyd iteration is

1. **assign** — per-row argmin over the k centroid literals (pure column
   algebra: the centroids are broadcast as literals into the plan, so
   assignment is a scan with NO join and NO shuffle);
2. **update** — per-(cluster, dimension) mean via ``posexplode`` +
   groupBy: k·dim groups (tiny), map-side partial aggregation, one
   shuffle of a few hundred partial rows per executor;
3. the tiny mean frame is collected to the driver (k·dim doubles) and
   folded into the next iteration's literals — the same driver-sync
   structure MLlib's own KMeans uses per iteration.

At 100 TB each iteration is one scan + one tiny aggregate; nothing
driver-side grows with the data. At tiny scale the fit is overhead-bound
(~1 s/iteration on local[32]: plan+codegen for the fresh-literal
assignment plus two scheduled stages), so the composed
semantic-curation query floors at ~6-7 s regardless of row count — the
earlier in-code claim of 3.1 s was a warm-cache measurement, not a
fresh-session number. A per-dimension-column aggregate (64 decimal sums,
no explode) was measured SLOWER (1.7 vs 1.1 s/iter) — the explode form
stays.

Determinism (oracle-exact across engines):
- distances are per-row sequential folds of doubles (bit-exact, see
  datapipe/similarity.py);
- argmin ties break on the lower centroid id (min over (dist, cid)
  structs);
- component means accumulate in EXACT fixed-point: each component is
  scaled by 2^50 (an exact power-of-two shift for doubles) and floored
  to an integer, summed in DECIMAL(38,0) (overflow-free, order- and
  partitioning-independent), then unscaled in double. DOUBLE→DECIMAL
  casts are avoided entirely — DuckDB computes that cast *in double
  arithmetic* (measured: CAST(1.0/3.0 AS DECIMAL(38,20)) ends ...1968,
  not the exact-binary ...1483 Spark produces), so a fractional decimal
  accumulator can never be cross-engine exact; integer-valued decimals
  convert exactly in both engines. floor() is engine-identical for any
  double, so the mean is well-defined (2^-50-resolution fixed point)
  even for inputs whose low bits fall below the grid.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..detach import cache_once, detach
from .similarity import _dec_vec


def _sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as a strict sequential fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, ties to the
    lower centroid id). ``centroids`` are plan literals — assignment is a
    shuffle-free scan. Adds ``cluster_id`` (int) and ``dist_sq`` (double).

    The codebook enters the plan as ONE nested array literal consumed by
    one ``zip_with`` lambda, not k unrolled distance folds: the unrolled
    form repeated the 64-element fold expression k times with literals
    that change every Lloyd iteration, so whole-stage codegen recompiled
    a k×-sized function per iteration (measured ~2× the per-plan cost of
    this form at k=8, dim=64). Same sequential fold per centroid, same
    (dist, cid) struct-min tie-break — bit-identical assignments.
    """
    v = _dec_vec(F.col(vec_col))
    best = F.array_min(
        F.zip_with(
            F.lit([[float(x) for x in c] for c in centroids]),
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda c, i: F.struct(_sq_dist(v, c).alias("d"), i.alias("cid")),
        )
    )
    return df.withColumn("cluster_id", best["cid"]).withColumn(
        "dist_sq", best["d"]
    )


# Hex-prefix threshold for the seed pre-prune: keeps ~2/256 of rows.
# Any value works (the result is threshold-independent, see the
# kmeans_fit_assign docstring); smaller prunes harder but falls back to
# the full frame more often on tiny inputs.
_SEED_PREFIX = "02"


def _seed_topk(df: DataFrame, k: int, id_col: str, vec_col: str) -> list:
    """The k rows with the globally smallest ``(md5(id), id)``, computed
    over a hash-threshold-pruned candidate set with a full-frame fallback
    (identical result either way — the filter can only prune)."""
    hashed = df.select(
        id_col, vec_col, F.md5(F.col(id_col).cast("string")).alias("__h")
    )
    cand = hashed.filter(F.col("__h") < _SEED_PREFIX)
    rows = cand.orderBy("__h", id_col).limit(k).collect()
    if len(rows) < k:
        rows = hashed.orderBy("__h", id_col).limit(k).collect()
    return rows


def kmeans_fit_assign(
    df: DataFrame,
    *,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd k-means with a deterministic seed: the initial codebook is
    the ``k`` vectors with the smallest ``md5(id)`` hashes (a
    deterministic uniform pseudo-sample of the corpus — better-spread
    than smallest-id, which at 100 TB would seed from whatever shard
    happens to hold the lowest keys), then ``n_iter`` assign→update
    rounds, returning the final assignment frame (``cluster_id``,
    ``dist_sq`` added) and the final centroids.

    Seed-scan shape: rows are pre-pruned by a static hash-threshold
    filter (``md5 < SEED_PREFIX``) before the top-k, so at scale the
    per-partition top-k heaps see ~N/256 rows instead of N; when the
    filtered set has fewer than ``k`` rows (tiny inputs) the top-k falls
    back to the unfiltered frame. Both branches compute the SAME result —
    the k globally-smallest hashes — because any set containing the k
    smallest hashes yields them; the filter only prunes, never changes
    the answer, which keeps the cross-engine oracle a plain
    ``ORDER BY md5(id), id LIMIT k``.

    A cluster that loses all members keeps its previous centroid (so the
    codebook size is stable and the result stays engine-reproducible).
    """
    from .text import spread_for_explode

    # Keyless (round-robin) rebalance: assignment is dim·k flops per row
    # and the mean update posexplodes dim× — both undercounted by Spark's
    # byte-based scan sizing when the table arrives as few splits. Keyless
    # keeps the plan free of hash exchanges (every aggregate downstream is
    # order-independent: min/sum/decimal-exact means).
    # Iterative fit = n_iter+2 driver-synced actions over the same
    # input. Truncate the lineage ONCE so an expensive upstream (e.g. a
    # quality-gate + dedup chain feeding the fit) executes once, not per
    # action — the standard Spark iterative-ML pattern.
    df = detach(spread_for_explode(df), eager=True)
    seed_rows = _seed_topk(df, k, id_col, vec_col)
    cents = [[float(x) for x in r[vec_col]] for r in seed_rows]
    if not cents:
        raise ValueError("kmeans_fit_assign: input frame has no rows")
    # Fewer rows than requested clusters: the codebook is the rows.
    k = len(cents)
    dim = len(cents[0])

    for _ in range(n_iter):
        assigned = kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col)
        scaled = F.floor(F.col("col") * F.lit(2.0**50)).cast("decimal(38,0)")
        means = (
            assigned.select(
                "cluster_id", F.posexplode(_dec_vec(F.col(vec_col)))
            )
            .groupBy("cluster_id", "pos")
            .agg(
                (
                    F.sum(scaled).cast("double")
                    / F.lit(2.0**50)
                    / F.count(F.lit(1))
                ).alias("mu")
            )
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in means:
            by_cluster.setdefault(r["cluster_id"], {})[r["pos"]] = r["mu"]
        cents = [
            [by_cluster.get(cid, {}).get(pos, cents[cid][pos]) for pos in range(dim)]
            for cid in range(k)
        ]

    return kmeans_assign(df, cents, id_col=id_col, vec_col=vec_col), cents

def semantic_dedup(
    assigned: DataFrame,
    *,
    min_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): given embeddings clustered by
    ``kmeans_fit_assign`` (``assigned`` carries its ``cluster_id``),
    inside each cluster drop every vector that has a
    cosine-``min_cos``-or-closer neighbor with a smaller id (the kept
    row is the deterministic representative of its duplicate set).

    Scale shape: the pair search is an equi-join on ``cluster_id`` —
    the codebook bounds every comparison to one cell, exactly how the
    published method avoids the corpus-level all-pairs product. The
    assigned frame feeds both join sides, so it is cached
    (ContextCleaner-released with the returned frame — the
    lsh_candidate_pairs lifetime contract). Adds a ``cluster_id``
    column to the survivors.
    """
    from .similarity import _dot, with_norm

    base = cache_once(with_norm(assigned, vec_col))
    a = base.select(
        F.col(id_col).alias("__id_a"),
        F.col("cluster_id").alias("__cl_a"),
        F.col("__vec_dec").alias("__va"),
        F.col("__norm").alias("__na"),
    )
    dropped = (
        base.alias("b")
        .join(
            a,
            on=[
                F.col("cluster_id") == F.col("__cl_a"),
                F.col("__id_a") < F.col(id_col),
            ],
        )
        .filter(
            _dot(F.col("__va"), F.col("__vec_dec"))
            / (F.col("__na") * F.col("__norm"))
            >= min_cos
        )
        .select(F.col(id_col).alias("__dropped"))
        .distinct()
    )
    return (
        base.join(
            dropped, on=F.col(id_col) == F.col("__dropped"), how="left_anti"
        )
        .drop("__vec_dec", "__norm", "dist_sq")
    )
