"""Similarity search over embedding columns (``array<float>``).

Two tiers:
- :func:`cosine_topk` — brute-force exact cosine top-k. O(|Q|·|C|); the
  correct baseline and fine when either side is small (a query batch
  against a corpus, or within LSH buckets).
- :func:`ann_bucket_topk` — bucketed ANN: vectors are quantized to a
  sign-bit bucket (sign-random-projection LSH with axis-aligned
  hyperplanes); top-k runs only within buckets. At scale the bucket join
  replaces the all-pairs product with a shuffle keyed on bucket id; recall
  is tuned by bucket bits / multi-probe.

Determinism note: the dot product is a strict left fold over the array
(``F.aggregate``), evaluated per row — there is no cross-row/partition
accumulation, so double arithmetic is fully deterministic here: identical
inputs produce bit-identical results on any cluster layout (and in DuckDB,
whose ``list_reduce`` is the same sequential fold — verified exact at
sf0.1). Floats are widened to double first; float→double is exact.
Decimal accumulation is only needed for *cross-row* sums (see
operators.aggregates), not per-row folds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..detach import cache_once, detach


def _dec_vec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic; see module docstring)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the double-widened vector and its L2 norm."""
    dv = _dec_vec(F.col(vec_col))
    return df.withColumn("__vec_dec", dv).withColumn(
        "__norm", F.sqrt(_dot(F.col("__vec_dec"), F.col("__vec_dec")))
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for each row of ``queries``.

    Returns ``(vec_id, neighbor_id, sim_rank, cos_sim)`` with rank ties
    broken by neighbor id. Self-matches (same id) are excluded.
    """
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col("__vec_dec").alias("qv"),
        F.col("__norm").alias("qn"),
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__vec_dec").alias("cv"),
        F.col("__norm").alias("cn"),
    )
    pairs = q.crossJoin(c).filter(F.col("vec_id") != F.col("neighbor_id"))
    cos = _dot(F.col("qv"), F.col("cv")).cast("double") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("__cos", cos)
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("vec_id", "neighbor_id", "sim_rank", F.col("__cos").alias("cos_sim"))
    )


#: Fixed seed for the SRP hyperplane family — one global family so bucket
#: ids are stable across runs, engines, and the DuckDB oracle.
SRP_SEED = 20260813
#: Hyperplanes are literal vectors of this length, sliced per row to the
#: embedding's actual dimensionality — supports any dim ≤ SRP_MAX_DIM
#: without the caller declaring it.
SRP_MAX_DIM = 256


def srp_planes(bits: int, *, seed: int = SRP_SEED, dim: int = SRP_MAX_DIM) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes for sign-random-projection LSH.

    Values are uniform in (-1, 1), rounded to 6 decimals so the SAME
    literals embed verbatim in both the Spark plan and the DuckDB oracle
    SQL (a 6-decimal literal parses to the identical double in both
    engines). A genuinely random projection family — unlike axis-aligned
    sign bits — keeps buckets non-degenerate on correlated / sign-biased
    embedding distributions (VERDICT r1 #3): a real corpus whose raw
    dimensions are mostly positive would otherwise collapse into one
    bucket and turn the bucket join quadratic on a skewed key.
    """
    import random

    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(bits)
    ]


def sign_bucket(vec_col: Column, bits: int = 4, *, seed: int = SRP_SEED) -> Column:
    """Sign-random-projection bucket id: bit *i* is the sign of the dot
    product with seeded hyperplane *i* (Charikar's SimHash for vectors).

    Each plane is a literal array sliced to the row's vector length, so
    one expression serves any dimensionality ≤ ``SRP_MAX_DIM``. The dot is
    the same strict sequential fold as :func:`_dot` — deterministic and
    bit-identical in DuckDB (see module docstring).
    """
    vec = _dec_vec(vec_col)
    bucket: Column = F.lit(0)
    for i, plane in enumerate(srp_planes(bits, seed=seed)):
        arr = F.array(*[F.lit(v) for v in plane])
        proj = F.aggregate(
            F.zip_with(vec, F.slice(arr, F.lit(1), F.size(vec)), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(2**i)).otherwise(F.lit(0))
    return bucket.cast("long")


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    min_cos: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed.

    Candidate pairs come from sign-bucket agreement (``bits`` hyperplanes
    — near-identical vectors agree on all sign bits with high
    probability), then exact cosine filters at ``min_cos``. Returns
    ``(vec_id_a, vec_id_b, cos_sim)`` with a < b. The bucket join is the
    only shuffle; no all-pairs product.

    The bucketed base feeds BOTH self-join sides, and the SRP
    projections (bits × dim multiply-adds per row) are the expensive
    part of it — cached so they compute once, like the LSH band entries
    in datapipe.dedup (same lifetime contract: the ContextCleaner
    releases it when the returned frame is garbage-collected).
    """
    base = cache_once(
        with_norm(df, vec_col)
        .withColumn("bucket", sign_bucket(F.col(vec_col), bits))
    )
    a = base.select(
        F.col(id_col).alias("vec_id_a"), "bucket",
        F.col("__vec_dec").alias("va"), F.col("__norm").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("vec_id_b"), F.col("bucket").alias("bucket_b"),
        F.col("__vec_dec").alias("vb"), F.col("__norm").alias("nb"),
    )
    pairs = a.join(
        b,
        on=[
            F.col("bucket") == F.col("bucket_b"),
            F.col("vec_id_a") < F.col("vec_id_b"),
        ],
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= min_cos)
        .select("vec_id_a", "vec_id_b", "cos_sim")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_probe: int = 2,
    k: int = 3,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to its nearest centroid,
    then search each query only inside its ``n_probe`` nearest centroid
    cells.

    ``centroids`` is a small frame ``(centroid_id, embedding)`` — in
    production the output of an offline k-means; any deterministic codebook
    works (tests/entry use a fixed sample of the corpus). Assignment and
    probing both rank by cosine with id tiebreaks, so results are exactly
    reproducible.

    Scale shape: centroids broadcast to both assignment joins (corpus×C
    and queries×C are linear in C, not quadratic); the probe search
    shuffles on ``centroid_id`` — the IVF cell takes the place of the
    all-pairs product, recall tuned by ``n_probe``/codebook size.
    """
    cent = F.broadcast(
        with_norm(centroids, vec_col).select(
            F.col(centroid_id_col).alias("cid"),
            F.col("__vec_dec").alias("cv"),
            F.col("__norm").alias("cn"),
        )
    )

    def _nearest_cells(df: DataFrame, out_id: str, n: int) -> DataFrame:
        base = with_norm(df, vec_col).select(
            F.col(id_col).alias(out_id),
            F.col("__vec_dec").alias("v"),
            F.col("__norm").alias("nrm"),
        )
        scored = base.crossJoin(cent).withColumn(
            "__cos", _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
        )
        w = Window.partitionBy(out_id).orderBy(F.col("__cos").desc(), F.col("cid"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= n)
            .select(out_id, "cid", "v", "nrm")
        )

    assigned = _nearest_cells(corpus, "neighbor_id", 1).withColumnsRenamed(
        {"v": "nv", "nrm": "nn"}
    )
    probed = _nearest_cells(queries, "vec_id", n_probe)
    pairs = probed.join(assigned, on="cid").filter(
        F.col("vec_id") != F.col("neighbor_id")
    )
    cos = _dot(F.col("v"), F.col("nv")) / (F.col("nrm") * F.col("nn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("__cos", cos)
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("vec_id", "neighbor_id", "sim_rank", F.col("__cos").alias("cos_sim"))
    )


def ann_bucket_topk(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    k: int = 3,
) -> DataFrame:
    """Bucketed approximate top-k: rank neighbors only within the same
    sign-quantization bucket. Returns
    ``(vec_id, bucket, neighbor_id, sim_rank)``. The bucketed base is
    cached — both self-join sides read it, and the SRP projections are
    the dominant per-row cost (lsh_candidate_pairs lifetime contract:
    ContextCleaner-released with the returned frame)."""
    base = cache_once(
        with_norm(df, vec_col)
        .withColumn("bucket", sign_bucket(F.col(vec_col), bits))
    )
    a = base.select(
        F.col(id_col).alias("vec_id"), "bucket",
        F.col("__vec_dec").alias("qv"), F.col("__norm").alias("qn"),
    )
    b = base.select(
        F.col(id_col).alias("neighbor_id"), F.col("bucket").alias("bucket_b"),
        F.col("__vec_dec").alias("cv"), F.col("__norm").alias("cn"),
    )
    pairs = a.join(
        b, on=[F.col("bucket") == F.col("bucket_b"), F.col("vec_id") != F.col("neighbor_id")]
    )
    cos = _dot(F.col("qv"), F.col("cv")).cast("double") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.col("__cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("__cos", cos)
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("vec_id", "bucket", "neighbor_id", "sim_rank")
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding", *, id_col: str = "vec_id"
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions —
    the PCA/whitening/decorrelation input an embedding-quality audit
    starts from — as a relational frame ``(i, j, n, cov)`` with
    ``i <= j``, exact enough to diff across runs: every cross-row sum
    (per-dimension means and pairwise second moments) accumulates on
    the 2^-40 grid in DECIMAL(38,0), and the final
    ``cov = (S_ij/2^40)/n − μ_i·μ_j`` is one fixed IEEE op sequence.
    NULL vectors are dropped. ``id_col`` keys the dimension self-join
    (an explicit unique id, never monotonically_increasing_id — that
    would be partition-layout-dependent across the two join branches).

    Scale shape: the dim²/2 upper-triangle terms of each row are
    ROW-LOCAL (a row's outer product never needs another row), so they
    are generated in-row — one explode of the per-row (i, j, x_i, x_j)
    triangle — and flow straight into the (i, j)-keyed aggregate, whose
    map-side partials collapse to at most dim²/2 rows per task before
    the only exchange. (Round 10: this replaces the explode →
    equi-self-join on the row id — two data-sized shuffles of the
    (row, dim, value) frame — with zero pre-aggregate shuffles; the
    per-term doubles are the same ``cast(element_at(...))`` values the
    join produced, so every decimal partial is bit-identical.)
    For very high dim, subsample rows first — the estimator degrades
    gracefully, the shape does not change. ``id_col`` is unused (kept
    for signature stability; the scan no longer reads it).
    """
    from .text import spread_for_explode

    # rebalance the RAW rows before the dim²/2 in-row explode (a no-op
    # on a wide production scan; locally the scan is one split and the
    # generator would otherwise run serially)
    vals = spread_for_explode(
        df.filter(F.col(vec_col).isNotNull()).select(
            F.col(vec_col).alias("__v")
        )
    )
    # element refs are O(1) scalar casts of the raw array attribute —
    # never a transformed copy referenced inside the lambda (a free
    # non-attribute expression would re-evaluate per element)
    tri_sql = (
        "CASE WHEN size(__v) >= 1 THEN "
        "flatten(transform(sequence(0, size(__v) - 1), i -> "
        "transform(sequence(i, size(__v) - 1), j -> "
        "struct(i AS i, j AS j, "
        "CAST(element_at(__v, i + 1) AS double) AS xa, "
        "CAST(element_at(__v, j + 1) AS double) AS xb)))) "
        "ELSE cast(array() as array<struct<i:int,j:int,xa:double,xb:double>>)"
        " END"
    )
    terms = vals.select(F.explode(F.expr(tri_sql)).alias("__p")).select(
        F.col("__p.i").alias("i"),
        F.col("__p.j").alias("j"),
        F.col("__p.xa").alias("xa"),
        F.col("__p.xb").alias("xb"),
    )
    grid = F.lit(2.0**40)
    pair = (
        terms.groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(
                F.floor(F.col("xa") * F.col("xb") * grid).cast("decimal(38,0)")
            ).alias("__s"),
            F.sum(F.floor(F.col("xa") * grid).cast("decimal(38,0)")).alias(
                "__sa"
            ),
            F.sum(F.floor(F.col("xb") * grid).cast("decimal(38,0)")).alias(
                "__sb"
            ),
        )
    )
    n = F.col("__n").cast("double")
    mu_a = (F.col("__sa").cast("double") / grid) / n
    mu_b = (F.col("__sb").cast("double") / grid) / n
    cov = (F.col("__s").cast("double") / grid) / n - mu_a * mu_b
    return pair.select(
        "i", "j", F.col("__n").cast("long").alias("n"), cov.alias("cov")
    )


def pca_project_pc1(
    df: DataFrame,
    vec_col: str = "embedding",
    *,
    id_col: str = "vec_id",
    n_iter: int = 8,
) -> DataFrame:
    """First principal component by fixed-``n_iter`` power iteration
    over the grid-exact covariance frame, then every vector's PC1
    score — the one-line embedding-quality audit (how much variance a
    single direction explains; anisotropy flags collapsed embedding
    spaces).

    Everything is relational and engine-exact: the covariance comes
    from :func:`embedding_covariance` (mirrored to the full symmetric
    matrix), each iteration is one (i, j) join + keyed aggregate with
    the matrix-vector products accumulated on the 2^-40 grid (64-term
    float sums would be association-order-dependent), normalization
    divides by the correctly-rounded sqrt of a grid-exact sum, and the
    deterministic start vector is uniform 1/sqrt(dim). The sign is
    pinned by the start vector (power iteration converges toward the
    dominant eigenvector up to sign; a fixed positive start makes the
    sign reproducible).

    Returns ``(id_col, pc1)``. Iteration frames are dim-sized (64
    rows) — the only corpus-scale passes are the covariance build and
    the final projection scan.
    """
    grid = F.lit(2.0**40)
    tri = embedding_covariance(df, vec_col, id_col=id_col)
    cov = tri.select("i", "j", "cov").unionByName(
        tri.filter(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "cov"
        )
    )
    cov = detach(cov)
    dims = cov.select(F.col("i").alias("j")).distinct()
    n_dims = dims.count()
    # math.sqrt is IEEE-correctly-rounded (x ** 0.5 goes through libm
    # pow, which the engine's exactness rules forbid)
    import math

    v = dims.withColumn("v", F.lit(1.0 / math.sqrt(float(n_dims))))
    for _ in range(n_iter):
        w = (
            cov.join(v, on="j")
            .groupBy("i")
            .agg(
                F.sum(
                    F.floor(F.col("cov") * F.col("v") * grid).cast(
                        "decimal(38,0)"
                    )
                ).alias("__s")
            )
            .select(
                F.col("i").alias("j"),
                (F.col("__s").cast("double") / grid).alias("w"),
            )
        )
        norm2 = w.agg(
            F.sum(
                F.floor(F.col("w") * F.col("w") * grid).cast("decimal(38,0)")
            ).alias("__n2")
        ).select(
            F.sqrt(F.col("__n2").cast("double") / grid).alias("__norm")
        )
        v = w.crossJoin(F.broadcast(norm2)).select(
            "j", (F.col("w") / F.col("__norm")).alias("v")
        )
        v = detach(v)
    vals = df.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col),
        F.posexplode(_dec_vec(F.col(vec_col))).alias("j", "x"),
    )
    return (
        vals.join(F.broadcast(v), on="j")
        .groupBy(id_col)
        .agg(
            F.sum(
                F.floor(F.col("x") * F.col("v") * grid).cast("decimal(38,0)")
            ).alias("__s")
        )
        .select(
            id_col, (F.col("__s").cast("double") / grid).alias("pc1")
        )
    )


def _pq_slices(vec_col: str, m: int, d: int) -> list[Column]:
    """The m contiguous subvectors of ``vec_col`` (1-based slice, each
    of length ``d``)."""
    return [F.slice(F.col(vec_col), s * d + 1, d) for s in range(m)]


def _pq_dim(df: DataFrame, vec_col: str, m: int) -> int:
    head = df.select(F.size(F.col(vec_col)).alias("n")).head()
    if head is None:
        raise ValueError("pq: input frame has no rows")
    dim = int(head.n)
    if dim % m != 0:
        raise ValueError(f"pq: dim {dim} not divisible by m={m}")
    return dim // m


def pq_train(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    n_iter: int = 2,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks (Jégou et al. TPAMI 2011):
    the vector space splits into ``m`` contiguous subspaces of dim/m
    components, and each subspace gets its own ``k``-centroid Lloyd
    codebook (:func:`..clustering.kmeans_fit_assign` — deterministic
    md5 seed, grid-exact means, so the codebooks are bit-identical
    cross-engine). Returns ``codebooks[s][cid] -> centroid`` (python
    lists — m·k·(dim/m) doubles, the broadcastable index that replaces
    the corpus for scoring).

    Scale shape: the m per-subspace Lloyd fits run STACKED in one scan
    per round — each row contributes its m subvectors as (s, subvec)
    pairs, assignment folds against ``element_at(codebooks, s+1)``, and
    the grid-exact means aggregate by (s, cluster, pos) — so a round is
    ONE job over the checkpointed slice table instead of m sequential
    jobs (plus one shared seed collect instead of m). Bit-identical to
    the per-subspace :func:`..clustering.kmeans_fit_assign` loop it
    replaces: the deterministic seed (the k smallest ``(md5(id), id)``
    rows) does not depend on the vector column, so every subspace seeds
    from the SAME rows, and the decimal mean sums are per-(s, cluster,
    pos) groups — identical row multisets, order-independent
    accumulation (pinned by the pq_topk oracle's unrolled per-subspace
    Lloyd CTEs). Nothing driver-side grows with the corpus (m·k·dim
    doubles per sync)."""
    from .clustering import _SEED_PREFIX, _sq_dist
    from .text import spread_for_explode

    d = _pq_dim(df, vec_col, m)
    sliced = detach(
        spread_for_explode(df.filter(F.col(vec_col).isNotNull())).select(
            F.col(id_col),
            *[
                sub.alias(f"__pq_sub_{s}")
                for s, sub in enumerate(_pq_slices(vec_col, m, d))
            ],
        ),
        eager=True,
    )

    # One seed pass for all m subspaces (same pruned top-k + fallback as
    # kmeans_fit_assign's _seed_topk; see the scale-shape note above).
    hashed = sliced.withColumn("__h", F.md5(F.col(id_col).cast("string")))
    cand = hashed.filter(F.col("__h") < _SEED_PREFIX)
    rows = cand.orderBy("__h", id_col).limit(k).collect()
    if len(rows) < k:
        rows = hashed.orderBy("__h", id_col).limit(k).collect()
    if not rows:
        raise ValueError("kmeans_fit_assign: input frame has no rows")
    k_eff = len(rows)
    cbs = [
        [[float(x) for x in r[f"__pq_sub_{s}"]] for r in rows]
        for s in range(m)
    ]

    for _ in range(n_iter):
        cb_lit = F.array(
            *[
                F.lit([[float(x) for x in c] for c in cbs[s]])
                for s in range(m)
            ]
        )
        stacked = sliced.select(
            F.posexplode(
                F.array(*[F.col(f"__pq_sub_{s}") for s in range(m)])
            ).alias("s", "__sub")
        ).select("s", _dec_vec(F.col("__sub")).alias("__sub_dec"))
        best = F.array_min(
            F.zip_with(
                F.element_at(cb_lit, F.col("s") + 1),
                F.sequence(F.lit(0), F.lit(k_eff - 1)),
                lambda c, i: F.struct(
                    _sq_dist(F.col("__sub_dec"), c).alias("d"),
                    i.alias("cid"),
                ),
            )
        )
        scaled = F.floor(F.col("col") * F.lit(2.0**50)).cast("decimal(38,0)")
        means = (
            # cluster_id in its own projection BELOW the posexplode: a
            # generator in the same select list makes the analyzer strip
            # the struct-field aliases inside the zip_with lambda
            # (FIELD_NOT_FOUND on best["cid"]); two selects, same values.
            stacked.select(
                "s", best["cid"].alias("cluster_id"), "__sub_dec"
            )
            .select("s", "cluster_id", F.posexplode(F.col("__sub_dec")))
            .groupBy("s", "cluster_id", "pos")
            .agg(
                (
                    F.sum(scaled).cast("double")
                    / F.lit(2.0**50)
                    / F.count(F.lit(1))
                ).alias("mu")
            )
            .collect()
        )
        by_sc: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            by_sc.setdefault((r["s"], r["cluster_id"]), {})[r["pos"]] = r["mu"]
        cbs = [
            [
                [
                    by_sc.get((s, cid), {}).get(pos, cbs[s][cid][pos])
                    for pos in range(d)
                ]
                for cid in range(k_eff)
            ]
            for s in range(m)
        ]
    return cbs


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_prefix: str = "code_",
) -> DataFrame:
    """Encode each vector as ``m`` codebook ids (``code_0..code_{m-1}``,
    nearest centroid per subspace under squared L2, ties to the lower
    cid — the :func:`..clustering.kmeans_assign` rule, so encoding a
    training vector reproduces its final fit assignment). dim/8 bytes
    per vector at k<=256 — the memory cut that lets a 100 TB corpus's
    index live where its raw vectors cannot. Shuffle-free scan: the
    codebooks enter the plan as literals."""
    from .clustering import _sq_dist

    m = len(codebooks)
    d = _pq_dim(df, vec_col, m)
    out = df.filter(F.col(vec_col).isNotNull())
    for s, sub in enumerate(_pq_slices(vec_col, m, d)):
        sub_dec = F.transform(sub, lambda x: x.cast("double"))
        best = F.array_min(
            F.zip_with(
                F.lit([[float(x) for x in c] for c in codebooks[s]]),
                F.sequence(F.lit(0), F.lit(len(codebooks[s]) - 1)),
                lambda c, i: F.struct(
                    _sq_dist(sub_dec, c).alias("d"), i.alias("cid")  # noqa: B023
                ),
            )
        )
        out = out.withColumn(f"{code_prefix}{s}", best["cid"])
    return out


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    grid_bits: int = 40,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k under the PQ codebooks: each
    query precomputes an m×k lookup table of exact squared-L2 distances
    from its subvectors to every centroid (per-row sequential folds —
    deterministic doubles), each table entry lands on the
    floor(d·2^grid_bits) integer grid, and a corpus vector's
    approximate distance is the BIGINT sum of its m code lookups — so
    scores, ranks, and ties are engine-exact end to end. Returns
    ``(vec_id, neighbor_id, sim_rank, adc_grid)``; nearest first (ties
    to the lower neighbor id), self-matches excluded.

    Scale shape: the corpus is touched ONCE to encode (shuffle-free
    scan, m codes per row); scoring joins the m-per-vector code rows
    against the BROADCAST query tables (|Q|·m·k rows) on (subspace,
    cid) and sums m integers per (query, corpus) pair — per-pair cost
    m lookups instead of dim multiplies, the PQ speedup. The pairing
    itself stays |Q|·|C| (this is a scoring compressor, not a candidate
    pruner); the production composition feeds it IVF/SRP candidates,
    exactly like :func:`quantized_topk`'s bucket-join note. Integer
    headroom: m·max_d·2^grid_bits must stay under 2^63 — at
    grid_bits=40 that allows per-subspace distances up to ~2^21/m,
    far beyond normalized-embedding geometry."""
    m = len(codebooks)
    d = _pq_dim(corpus, vec_col, m)
    grid = F.lit(float(2**grid_bits))

    codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    code_long = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(
            F.array(*[F.col(f"code_{s}") for s in range(m)])
        ).alias("s", "cid"),
    )

    tables = None
    q = queries.filter(F.col(vec_col).isNotNull())
    for s, sub in enumerate(_pq_slices(vec_col, m, d)):
        sub_dec = F.transform(sub, lambda x: x.cast("double"))
        dists = F.transform(
            F.lit([[float(x) for x in c] for c in codebooks[s]]),
            lambda c: F.aggregate(  # noqa: B023
                F.zip_with(sub_dec, c, lambda x, y: (x - y) * (x - y)),  # noqa: B023
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        t = q.select(
            F.col(id_col).alias("vec_id"),
            F.lit(s).alias("s"),
            F.posexplode(dists).alias("cid", "__dd"),
        ).select(
            "vec_id",
            "s",
            "cid",
            F.floor(F.col("__dd") * grid).cast("long").alias("__dg"),
        )
        tables = t if tables is None else tables.unionByName(t)

    w = Window.partitionBy("vec_id").orderBy(
        F.col("adc_grid").asc(), F.col("neighbor_id").asc()
    )
    return (
        code_long.join(F.broadcast(tables), on=["s", "cid"])
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .groupBy("vec_id", "neighbor_id")
        .agg(F.sum("__dg").alias("adc_grid"))
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("vec_id", "neighbor_id", "sim_rank", "adc_grid")
    )


def quantize_int8(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
) -> DataFrame:
    """Scalar int8 quantization of L2-normalized embeddings: each
    component maps to ``floor(127 · x/‖v‖)`` ∈ [−127, 127] — the
    standard 4× memory cut of production vector stores, built
    grid-exact: normalization is one correctly-rounded sqrt + one
    division per component in a FIXED op order, and the floor lands
    every value on an integer, so quantized vectors (and everything
    derived from them) are bit-identical cross-engine. Zero vectors
    quantize to all-zero (guarded division).

    Per-row column algebra only — no shuffle, no corpus statistics
    (normalization makes a global scale unnecessary: components are
    already in [−1, 1])."""
    dv = _dec_vec(F.col(vec_col))
    nrm = F.sqrt(_dot(dv, dv))
    q = F.transform(
        dv,
        lambda x: F.when(nrm > 0, F.floor(F.lit(127.0) * (x / nrm)))
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return df.withColumn(out_col, q)


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k neighbors under int8-quantized dot product — the
    reduced-precision twin of :func:`cosine_topk` whose SCORE is an
    exact BIGINT (~127²·cos), so ranks, ties, and the score column all
    cross engines with no float anywhere in the output. Brute-force
    pairing like cosine_topk (the documented oracle-reference shape);
    the production path runs the same quantized dot inside the
    SRP/IVF bucket joins, inheriting their sub-quadratic candidate
    generation.

    Returns ``(vec_id, neighbor_id, sim_rank, qdot long)``; ties break
    by neighbor id; self-matches excluded. Integer headroom:
    127²·dim < 2^63 through dim ≈ 5.7e14 — unbounded in practice."""
    q = quantize_int8(queries, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("vec_id"), F.col("qvec").alias("qv")
    )
    c = quantize_int8(corpus, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cv")
    )
    pairs = q.crossJoin(c).filter(F.col("vec_id") != F.col("neighbor_id"))
    qdot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("__qd").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("__qd", qdot)
        .withColumn("sim_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sim_rank") <= k)
        .select("vec_id", "neighbor_id", "sim_rank", F.col("__qd").alias("qdot"))
    )


def mmr_topk(
    query_vec: list[float],
    candidates: DataFrame,
    *,
    k: int = 10,
    lam: float = 0.7,
    n_candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): select ``k`` results balancing relevance against redundancy
    — round r picks argmax ``lam·rel(d) − (1−lam)·max_{s∈S} sim(d,s)``
    over the not-yet-selected candidates. The standard diversified-
    retrieval head on top of any of this module's similarity paths
    (RAG result lists, near-dup-aware search, eval-set sampling where
    ten paraphrases of one answer are worse than ten distinct ones).

    Deterministic: relevance and pair similarities are the module's
    sequential-fold cosine (bit-identical cross-engine), the argmax
    tie-breaks to the smallest id, and the diversity penalty is
    maintained INCREMENTALLY — after each pick the remaining
    candidates fold the winner's (collected, broadcast-literal) vector
    into a running ``greatest`` — so the whole selection needs ZERO
    joins: float max is order-independent, so the greatest-chain
    equals the oracle's max-over-set exactly.

    Returns one row per pick: ``(rank, id, rel, maxsim, score)``.

    Scale shape: one scan scoring relevance against the broadcast
    query vector, one TakeOrdered prune to ``n_candidates``, then k
    rounds of (column update + 1-row TakeOrdered collect) on the
    pruned frame — driver traffic is k vectors (the Lloyd-fit
    discipline). Exact greedy MMR is sequential in k by definition;
    everything per-round is a narrow map over n_candidates rows.
    """
    if k < 1 or not 0.0 <= lam <= 1.0 or n_candidates < k:
        raise ValueError("mmr_topk: need k >= 1, 0 <= lam <= 1, n_candidates >= k")
    mu = 1.0 - lam
    qv = [float(x) for x in query_vec]
    qlit = F.array(*[F.lit(x) for x in qv])
    qn = with_norm(
        candidates.sparkSession.createDataFrame([(qv,)], f"{vec_col} array<double>"),
        vec_col,
    ).collect()[0]["__norm"]
    base = with_norm(
        candidates.filter(
            F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
        ),
        vec_col,
    )
    cand = (
        base.select(
            F.col(id_col).alias("id"),
            F.col("__vec_dec").alias("v"),
            F.col("__norm").alias("nrm"),
            (
                _dot(F.col("__vec_dec"), _dec_vec(qlit))
                / (F.col("__norm") * F.lit(qn))
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(n_candidates)
        # NULL seed, not 0.0: similarities can be NEGATIVE, and a zero
        # seed would clamp the penalty at 0 where standard MMR (and the
        # oracle's max-over-set) keeps the negative max — greatest()
        # ignores the NULL on the first update
        .withColumn("maxsim", F.lit(None).cast("double"))
        .transform(detach)
    )
    out = []
    spark = candidates.sparkSession
    for rank in range(1, k + 1):
        scored = cand.withColumn(
            "score",
            F.lit(lam) * F.col("rel")
            - F.lit(mu) * F.coalesce(F.col("maxsim"), F.lit(0.0)),
        )
        rows = scored.orderBy(
            F.col("score").desc(), F.col("id").asc()
        ).limit(1).collect()
        if not rows:
            break
        w = rows[0]
        out.append(
            (
                rank,
                w["id"],
                w["rel"],
                w["maxsim"] if w["maxsim"] is not None else 0.0,
                w["score"],
            )
        )
        wlit = F.array(*[F.lit(float(x)) for x in w["v"]])
        cand = detach(
            cand.filter(F.col("id") != w["id"]).withColumn(
                "maxsim",
                F.greatest(
                    F.col("maxsim"),
                    _dot(F.col("v"), _dec_vec(wlit))
                    / (F.col("nrm") * F.lit(float(w["nrm"]))),
                ),
            )
        )
    return spark.createDataFrame(
        out, "rank long, id long, rel double, maxsim double, score double"
    )
