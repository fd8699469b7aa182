"""Graph scoring — fixed-iteration PageRank, the link-authority signal a
web-crawl curation pipeline uses to weight domains/documents (alongside
the connected-component closure in :mod:`.dedup` and the triangle count
there).

Iterative-algorithm shape on Spark (same discipline as
:mod:`.clustering`'s Lloyd fit): each iteration is one equi-join of the
rank frame to the edge list on the source key plus one keyed aggregate
on the destination — no collects besides the node count, no windows, no
cartesians. Ranks live in plain doubles; every CROSS-ROW accumulation
goes through the scaled-integer grid (``floor(x · 2^40)`` summed as
BIGINT) so the result is partition-order-independent and bit-exact on
any engine — PageRank sums per node are the textbook case of float
reassociation drift, which this engine's oracle discipline forbids.

Dangling nodes (no out-edges) leak their mass — the fixed-iteration
scoring variant, standard when ranks are a FEATURE (relative authority)
rather than a probability distribution; the ranks still order nodes
identically and the leak is uniform per iteration. Callers needing the
stochastic-matrix variant add a dangling-mass redistribution term per
iteration (one extra tiny aggregate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..detach import detach, held

_GRID = 2.0**40

# Combined fixpoint-step budget of strongly_connected_components.
SCC_MAX_STEPS = 200


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping: float = 0.85,
    seeds: DataFrame | None = None,
    seed_col: str = "node",
) -> DataFrame:
    """Fixed-``n_iter`` PageRank over a directed edge list. Returns
    ``(node, pr)`` for every node appearing as a source or destination.

    pr_0 = 1/N; pr_{t+1}(v) = (1-d)/N + d · Σ_{u→v} pr_t(u)/deg(u),
    with the Σ accumulated on the 2^-40 fixed-point grid (exact,
    order-independent) and every scalar (1/N, (1-d)/N) derived with one
    fixed sequence of IEEE double ops.

    ``seeds`` switches to PERSONALIZED PageRank (Haveliwala 2002):
    teleport mass flows only to the seed set S (restricted to nodes in
    the graph) — pr_0 and the (1-d) term become 1/|S| on seeds, 0
    elsewhere — so ranks read "authority relative to S" (related-items
    scoring, topic-conditioned crawl weighting). The seed flag is one
    left-semi-derived boolean on the cached node frame.

    The distinct edge frame, the node frame, and the edge+degree frame
    all feed every iteration, so each is cached once — caching ``e``
    ITSELF matters most: the caller's edge-building plan (often an
    expensive self-join) would otherwise recompute for the node scan
    and for both branches of ``e.join(deg)`` (measured 14.4 s -> 6.3 s
    cold at sf0.1 on the co-purchase graph). The result is materialized
    (``detach(..., eager=True)``) before the ``held`` block releases
    the caches — repeated calls in a long-lived shared session leave no
    pinned RDDs behind (same no-cache-leak contract the pipeline runner
    asserts for the mailing job). The
    materialization is the price of that hygiene: a leak-free operator
    cannot hand back an unevaluated plan whose caches it just released.
    SCALING.md §pagerank records the measured cost of each variant.
    """
    # every validation raise below happens INSIDE the held block, which
    # releases e (and whatever else is pinned by then) — a bad-seed call
    # in a shared session must leak nothing
    with held() as hold:
        e = hold(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .distinct()
        )
        base_nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        if seeds is not None:
            sd = seeds.select(F.col(seed_col).alias("node")).distinct()
            nodes = hold(
                base_nodes.join(
                    sd.withColumn("__seed", F.lit(True)), on="node", how="left"
                ).select(
                    "node",
                    F.coalesce(F.col("__seed"), F.lit(False)).alias("__seed"),
                )
            )
            # validate on the CACHED frame (the held block releases it
            # on the raise path) — a pre-cache validation count would
            # recompute the whole edge-building plan a second time
            m = nodes.filter(F.col("__seed")).count()
            if m == 0:
                raise ValueError("pagerank: no seed appears in the graph")
        else:
            nodes = hold(base_nodes.withColumn("__seed", F.lit(True)))
            m = None
        deg = e.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        ed = hold(e.join(deg, on="src"))
        n = nodes.count()
        if n == 0:
            raise ValueError("pagerank: empty graph")
        denom = float(n if m is None else m)
        base = F.when(
            F.col("__seed"), F.lit((1.0 - damping) / denom)
        ).otherwise(F.lit(0.0))
        init = F.when(F.col("__seed"), F.lit(1.0 / denom)).otherwise(
            F.lit(0.0)
        )

        pr = nodes.withColumn("pr", init)
        for _ in range(n_iter):
            contrib = (
                ed.join(pr, on=F.col("src") == F.col("node"))
                .select(
                    "dst",
                    F.floor(
                        F.col("pr") / F.col("deg").cast("double") * F.lit(_GRID)
                    )
                    .cast("long")
                    .alias("__c"),
                )
                .groupBy("dst")
                .agg(F.sum("__c").alias("__s"))
            )
            pr = nodes.join(
                contrib, on=F.col("node") == F.col("dst"), how="left"
            ).select(
                "node",
                "__seed",
                (
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__s"), F.lit(0).cast("long")).cast(
                            "double"
                        )
                        / F.lit(_GRID)
                    )
                ).alias("pr"),
            )
        # materialize BEFORE releasing the caches the lineage depends on
        # (executor-local checkpoint: cheap, and the n_iter-deep
        # join-tree lineage is gone either way — a lost-executor replay
        # on a real cluster re-runs the operator, same as any collect).
        return detach(pr.select("node", "pr"), eager=True)


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, made deterministic): over the symmetrized distinct edge
    list, every node starts labeled with its own id; each iteration
    every node adopts the most frequent label among its NEIGHBORS,
    ties to the smallest label. Fixed ``n_iter`` synchronous rounds —
    the asynchronous variant's run-order nondeterminism is exactly
    what an oracle-checked engine can't ship. Returns ``(node,
    label)`` for every node with at least one edge; a community is a
    label equivalence class.

    Truncation contract (tested): the result is DEFINED as the state
    after exactly ``n_iter`` synchronous rounds, not a converged
    partition — on graphs whose propagation needs more rounds (label
    distance travels one hop per round) communities may still be
    mid-merge, and synchronous LPA can 2-cycle on bipartite structures
    rather than converge at all, so "more rounds" is not always
    "closer to a fixpoint". Deterministic either way; callers wanting
    a stable partition compare two consecutive ``n_iter`` values. Complements the connected-component
    closure in :mod:`.dedup`: CC finds reachability islands, label
    propagation splits dense sub-communities INSIDE an island.

    Scale shape (the house iterative discipline): per iteration one
    equi-join of the label frame to the cached edge list plus one
    (node, label) count aggregate and one keyed argmax (max_by — no
    window sort); labels are node ids, so ties and the argmax ride
    exact integer comparisons. The edge cache is held until the result
    materializes (the pagerank no-cache-leak contract).
    """
    if n_iter < 1:
        raise ValueError("label_propagation: n_iter must be >= 1")
    und = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    e = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    with held() as hold:
        e = hold(e)
        labels = e.select(F.col("src").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        for _ in range(n_iter):
            counts = (
                e.join(labels, on=F.col("dst") == F.col("node"))
                .groupBy("src", "label")
                .agg(F.count(F.lit(1)).cast("long").alias("__c"))
            )
            # struct-MIN with the count negated (counts are always
            # long) = argmax count, ties to SMALLEST label — works for
            # any orderable id type; negating the LABEL instead would
            # silently double-cast string ids to NULL and break the
            # tie-break
            labels = counts.groupBy("src").agg(
                F.min(
                    F.struct(
                        (-F.col("__c")).alias("nc"),
                        F.col("label").alias("l"),
                    )
                ).alias("__b")
            ).select(
                F.col("src").alias("node"),
                F.col("__b.l").alias("label"),
            )
        return detach(labels, eager=True)


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS shortest-hop distance, bounded at ``max_hops``
    synchronous rounds: every node reachable from the seed set within
    ``max_hops`` directed hops gets its MINIMUM hop count (seeds are
    hop 0). Returns ``(node, hop)``; unreached nodes are absent. The
    crawl-frontier / feature-radius primitive: "how far is every
    document from the trusted set", the distance companion to
    :func:`pagerank`'s authority score.

    Truncation contract (tested): when the graph extends beyond
    ``max_hops``, nodes past the horizon are simply ABSENT from the
    result — within the horizon every hop count is already the true
    global minimum (BFS rounds never revise a settled hop), so
    truncation loses rows, never corrupts them. Callers needing full
    reachability raise ``max_hops`` to the graph diameter; "did I
    truncate" is observable as ``max(hop) == max_hops``.

    Scale shape (the house iterative discipline): per round one
    equi-join of the current distance frame to the cached edge list on
    the source key plus one ``min`` aggregate on the node key — no
    windows, no cartesians, all-integer state so the result is exact on
    any engine. The frontier frame stays ``(node, hop)`` narrow; rounds
    are bounded by ``max_hops`` (graph diameter work, not graph size).
    The edge cache is held until the result materializes (the
    pagerank no-cache-leak contract).
    """
    if max_hops < 1:
        raise ValueError("bfs_hops: max_hops must be >= 1")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    with held() as hold:
        e = hold(e)
        dist = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("hop", F.lit(0).cast("int"))
        )
        for _ in range(max_hops):
            reached = (
                e.join(dist, on=F.col("src") == F.col("node"))
                .select(
                    F.col("dst").alias("node"),
                    (F.col("hop") + F.lit(1)).cast("int").alias("hop"),
                )
            )
            # detach per round — same doubled-lineage rationale as
            # sssp_weighted/random_walks (round 10)
            dist = (
                detach(
                    dist.unionByName(reached)
                    .groupBy("node")
                    .agg(F.min("hop").alias("hop")),
                    eager=False,
                )
            )
        return detach(dist, eager=True)


def hits(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 2,
) -> DataFrame:
    """Fixed-iteration HITS hubs-and-authorities (Kleinberg 1999) over
    a directed edge list, in EXACT integer arithmetic: h_0 = 1 for all
    nodes; a_{t+1}(v) = Σ_{u→v} h_t(u); h_{t+1}(u) = Σ_{u→v}
    a_{t+1}(v). The standard per-iteration normalization only rescales
    (rankings are invariant to it), so the un-normalized integer
    recurrence is kept — every score is a sum of products of edge
    counts, accumulated in DECIMAL(38,0), bit-exact and partition-order
    independent with no float grid at all. Growth is bounded by
    (max_degree²)^n_iter; the default 2 iterations keeps scores far
    inside 38 digits on any real link graph.

    Returns ``(node, authority, hub)`` with the exact integer scores
    rendered as STRINGS — DECIMAL(38,0)/HUGEINT survives engine
    boundaries only as text (pandas coerces big integers to lossy
    float64). Rank consumers order by ``(length, text)`` or re-cast.

    Scale shape: two equi-join + keyed-aggregate passes per iteration
    over the cached edge list — the same shuffle skeleton as
    :func:`pagerank`, no windows, no cartesians. Nodes with no
    in-edges (resp. out-edges) keep authority (resp. hub) 0 via the
    left join to the node universe. Edge cache held until the result
    materializes (no-cache-leak contract).
    """
    if n_iter < 1:
        raise ValueError("hits: n_iter must be >= 1")
    dec = "decimal(38,0)"
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    with held() as hold:
        e = hold(e)
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        hub = nodes.withColumn("h", F.lit(1).cast(dec))
        auth = None
        # The recurrence stays SPARSE: a node missing from the score
        # frame has score 0 and contributes nothing to the next sum, so
        # the zero-filling left join to the node universe is deferred
        # to the final output instead of paid twice per iteration
        # (round 10: removes 2·n_iter data-sized joins; values
        # identical by the missing-row = 0 identity).
        for _ in range(n_iter):
            auth = (
                e.join(hub, on=F.col("src") == F.col("node"))
                .groupBy("dst")
                .agg(F.sum("h").cast(dec).alias("a"))
                .select(F.col("dst").alias("node"), "a")
            )
            hub = (
                e.join(auth, on=F.col("dst") == F.col("node"))
                .groupBy("src")
                .agg(F.sum("a").cast(dec).alias("h"))
                .select(F.col("src").alias("node"), "h")
            )
        out = (
            nodes.join(
                auth.withColumnRenamed("node", "__an"),
                on=F.col("node") == F.col("__an"),
                how="left",
            )
            .join(
                hub.withColumnRenamed("node", "__hn"),
                on=F.col("node") == F.col("__hn"),
                how="left",
            )
            .select(
                "node",
                F.coalesce(F.col("a"), F.lit(0).cast(dec))
                .cast("string")
                .alias("authority"),
                F.coalesce(F.col("h"), F.lit(0).cast(dec))
                .cast("string")
                .alias("hub"),
            )
        )
        return detach(out, eager=True)


def kcore(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 2,
    max_rounds: int = 3,
) -> DataFrame:
    """Bounded k-core peeling (Seidman 1983) over the symmetrized
    distinct edge list: repeatedly delete nodes of degree < ``k`` (and
    their edges) for ``max_rounds`` synchronous rounds. Returns
    ``(node, degree)`` for the survivors with their degree inside the
    retained subgraph — the density filter that separates a graph's
    cohesive core from its tree-like fringe (spam-farm detection,
    community pre-filtering, feature engineering on link graphs).

    Fixed rounds, not run-to-fixpoint: each round is one degree
    aggregate plus two semi-joins pruning the edge list, so the result
    after ``max_rounds`` is deterministic on every engine and the
    oracle unrolls the same rounds. A true fixpoint needs at most
    max-degeneracy rounds; callers wanting it raise ``max_rounds`` and
    assert the last two rounds agree (same posture as the
    containment-dedup fixpoint's bounded rounds).

    Truncation contract (tested): truncation only UNDER-peels — every
    node the bounded run removes, the true k-core peel also removes
    (rounds are monotone), but a cascade longer than ``max_rounds``
    (peel chains, e.g. a path hanging off the core) leaves fringe
    nodes in the result that one more round would delete. Survivors'
    reported degrees are exact within the retained subgraph.

    Scale shape: per round one map-side-combinable degree groupBy and
    two hash semi-joins on node keys — no windows, no cartesians; the
    edge frame shrinks monotonically. The working edge set is cached
    per round and released when the result materializes (no-cache-leak
    contract).
    """
    if k < 1 or max_rounds < 1:
        raise ValueError("kcore: k and max_rounds must be >= 1")
    und = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    e = (
        und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    with held() as hold:
        for _ in range(max_rounds):
            e = hold(e)
            deg = e.groupBy("src").agg(
                F.count(F.lit(1)).cast("long").alias("deg")
            )
            keep = deg.filter(F.col("deg") >= k).select("src")
            e = e.join(keep, on="src", how="left_semi").join(
                keep.select(F.col("src").alias("dst")),
                on="dst",
                how="left_semi",
            )
        return detach(
            e.groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("degree"))
            .select(F.col("src").alias("node"), "degree"),
            eager=True,
        )


def sssp_weighted(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    seed_col: str = "node",
    max_rounds: int = 3,
) -> DataFrame:
    """Bounded Bellman-Ford single/multi-source shortest paths over a
    directed edge list with non-negative INTEGER weights: after
    ``max_rounds`` relaxation rounds every node holds the exact
    minimum-cost path from the seed set using at most ``max_rounds``
    hops. Returns ``(node, dist)``; nodes unreachable within the hop
    bound are absent. The weighted companion to :func:`bfs_hops` —
    min-plus semiring iteration, the standard bounded-round form on
    relational engines (full convergence needs diameter rounds).

    Integer weights keep the min-plus fold exact on any engine (the
    float analogue would accumulate reassociation-ordering drift).

    Truncation contract (tested): unlike :func:`bfs_hops`, truncation
    here can return a VALUE that full convergence would improve — a
    node whose cheapest path uses more than ``max_rounds`` hops holds
    the cheapest ``<= max_rounds``-hop path instead (or is absent if
    no such path exists). The result is still deterministic and
    engine-exact; it is "shortest within the hop budget", the standard
    bounded-Bellman-Ford reading. Callers needing true shortest paths
    raise ``max_rounds`` toward the graph diameter and may assert a
    fixpoint by checking two consecutive budgets agree (the kcore
    posture).

    Scale shape: per round one equi-join of the distance frame to the
    cached edge list plus one min aggregate — the bfs_hops skeleton
    with ``dist + w`` in place of ``hop + 1``. Edge cache held until
    the result materializes.
    """
    if max_rounds < 1:
        raise ValueError("sssp_weighted: max_rounds must be >= 1")
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("w") >= 0)
        )
    )
    with held() as hold:
        e = hold(e)
        dist = (
            seeds.select(F.col(seed_col).alias("node"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        for _ in range(max_rounds):
            relaxed = e.join(dist, on=F.col("src") == F.col("node")).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            # detach per round (lazy localCheckpoint): relaxed embeds
            # dist's lineage, so the undetached union doubles the plan
            # per round — 2^max_rounds copies of the seed join by the
            # end (same fix as random_walks, round 10)
            dist = (
                detach(
                    dist.unionByName(relaxed)
                    .groupBy("node")
                    .agg(F.min("dist").alias("dist")),
                    eager=False,
                )
            )
        return detach(dist, eager=True)


def strongly_connected_components(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Exact strongly connected components of a directed edge list via
    run-to-fixpoint Forward-Backward coloring with trimming (Fleischer/
    Hendrickson/Pinar 2000; Hong/Rodia/Olukotun 2013's Trim step) —
    the directed companion to the undirected CC closure in
    :mod:`.dedup`. Returns ``(node, scc_id)`` for every node appearing
    as an endpoint, where ``scc_id`` is the MAXIMUM member id of the
    node's SCC (self-loops contribute their endpoint as a node but
    never change membership) — a canonical labeling any correct SCC
    algorithm reproduces, which is what lets the oracle derive the same
    answer from a transitive closure instead of mirroring these rounds.

    Outer peel loop, each round three convergence-checked fixpoints:

    1. TRIM — nodes with no in-edge or no out-edge inside the remaining
       subgraph are singleton SCCs; peel repeatedly (kills DAG fringe
       and chains that would otherwise cost one coloring round each).
    2. COLOR — propagate ``color(v) = max(color(v), max color over
       in-edges)`` to fixpoint: color(v) = the maximum id among v's
       ancestors (including v). Within one SCC every node shares its
       ancestor set, so color is constant on the SCC; a node with
       ``color(v) == v`` (a root) is the maximum member of its SCC.
    3. BACKWARD — from each root, propagate "reaches the root" along
       REVERSE edges restricted to the root's color class; the marked
       set is exactly the root's SCC (same-color ⇒ same ancestors ⇒
       root reaches them; reaches-root ⇒ mutual). Extract, remove,
       repeat on the remainder.

    Convergence, not bounded rounds: unlike :func:`bfs_hops`/
    :func:`kcore`, truncated output here would be WRONG (a half-colored
    graph labels non-SCCs), so the operator runs each fixpoint to an
    exact convergence check and raises ``RuntimeError`` if the combined
    step budget ``SCC_MAX_STEPS`` is exhausted — the oracle never sees a
    truncated answer. Each convergence-checked step is ONE action on a
    lazily-localCheckpointed frame (a count, or for the coloring an
    aggregate of the changed-row total — the action doubles as the
    convergence test and the lineage cut); edge-set re-checkpoints
    carry no action at all and materialize in their first consumer.
    Driver round-trips are O(condensation diameter), the standard
    price of fixpoint graph algorithms on a relational engine.

    Scale shape: every step is an equi-join of a (node, label) frame to
    the edge list plus a keyed max/distinct — no windows, no
    cartesians, no collects. The edge frame shrinks monotonically
    across peels; Trim removes the long-tail structures that make pure
    FW-BW quadratic on real graphs. 100 TB posture: identical to the
    CC-closure argument — label frames shuffle on node keys, the giant
    SCC of a web-ish graph is extracted in one peel, and the step
    count is bounded by the condensation's diameter, not n.
    """
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # node set BEFORE dropping self-loops (a self-loop-only node is a
    # singleton SCC, not an absent one)
    nodes = (
        raw.select(F.col("src").alias("node"))
        .unionByName(raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = raw.filter(F.col("src") != F.col("dst")).distinct()

    steps = 0

    def _budget() -> None:
        nonlocal steps
        steps += 1
        if steps > SCC_MAX_STEPS:
            raise RuntimeError(
                "strongly_connected_components: fixpoint budget "
                f"SCC_MAX_STEPS={SCC_MAX_STEPS} exhausted (graphs with deep "
                "condensations need more rounds)"
            )

    def _step(df: DataFrame) -> tuple[DataFrame, int]:
        _budget()
        out = detach(df, eager=False)
        return out, out.count()

    def _cut(df: DataFrame) -> DataFrame:
        # lineage cut WITHOUT a dedicated count job: the next consumer
        # (always a full scan here — joins/aggregates, never a limit)
        # materializes the lazy checkpoint exactly once; the explicit
        # count was a whole extra pass whose result was discarded
        _budget()
        return detach(df, eager=False)

    remaining, n_rem = _step(nodes)
    e = _cut(e)
    done: list[DataFrame] = []

    while n_rem > 0:
        # ---- TRIM fixpoint: keep nodes with >=1 out AND >=1 in edge
        # (one flagged endpoint aggregate — was two distincts + a join)
        while True:
            core = (
                e.select(
                    F.col("src").alias("node"),
                    F.lit(1).alias("__o"),
                    F.lit(0).alias("__i"),
                )
                .unionByName(
                    e.select(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("__o"),
                        F.lit(1).alias("__i"),
                    )
                )
                .groupBy("node")
                .agg(F.max("__o").alias("__o"), F.max("__i").alias("__i"))
                .filter((F.col("__o") == 1) & (F.col("__i") == 1))
                .select("node")
            )
            core, n_core = _step(core)
            if n_core == n_rem:
                break
            done.append(
                remaining.join(core, "node", "left_anti")
                .select("node", F.col("node").alias("scc_id"))
            )
            remaining, n_rem = core, n_core
            e = _cut(
                e.join(core.select(F.col("node").alias("src")), "src", "left_semi")
                .join(core.select(F.col("node").alias("dst")), "dst", "left_semi")
                .select("src", "dst")
            )
        if n_rem == 0:
            break
        # ---- COLOR fixpoint: color(v) = max ancestor id
        color = remaining.select("node", F.col("node").alias("color"))
        while True:
            prop = (
                e.join(color, F.col("src") == F.col("node"))
                .select(F.col("dst").alias("node"), F.col("color").alias("__c"))
                .groupBy("node")
                .agg(F.max("__c").alias("__c"))
            )
            both = color.join(prop, "node", "left").select(
                "node",
                "color",
                F.greatest(F.col("color"), F.coalesce("__c", "color")).alias(
                    "__new"
                ),
            )
            both = _cut(both)
            # one aggregate job doubles as checkpoint materialization
            # and convergence test (was: a count job + a changed-probe
            # job per iteration)
            n_changed = (
                both.agg(
                    F.sum(
                        (F.col("__new") != F.col("color")).cast("long")
                    ).alias("__nc")
                ).first()["__nc"]
                or 0
            )
            if n_changed == 0:
                color = both.select("node", "color")
                break
            color = both.select("node", F.col("__new").alias("color"))
        # ---- BACKWARD fixpoint: reaches-root within the color class
        marked = color.filter(F.col("node") == F.col("color"))
        marked, n_marked = _step(marked)
        while True:
            new = (
                e.join(
                    marked.select(
                        F.col("node").alias("dst"), F.col("color").alias("__mc")
                    ),
                    "dst",
                )
                .select(F.col("src").alias("node"), F.col("__mc"))
                .join(color, "node")
                .filter(F.col("color") == F.col("__mc"))
                .select("node", "color")
            )
            marked2 = marked.unionByName(new).distinct()
            marked2, n2 = _step(marked2)
            if n2 == n_marked:
                break
            marked, n_marked = marked2, n2
        done.append(marked.select("node", F.col("color").alias("scc_id")))
        remaining, n_rem = _step(remaining.join(marked, "node", "left_anti"))
        e = _cut(
            e.join(
                remaining.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(
                remaining.select(F.col("node").alias("dst")), "dst", "left_semi"
            )
            .select("src", "dst")
        )

    if not done:  # empty graph
        return nodes.select("node", F.col("node").alias("scc_id")).limit(0)
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return detach(out, eager=True)


def random_walks(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    walk_length: int = 4,
) -> DataFrame:
    """Deterministic uniform random walks from every node: ``walk_length``
    steps where step t from node v follows out-edge number
    ``1 + md5(walker|t|rw) % outdeg(v)`` — hash-derived choices
    instead of an RNG, so the walks are exactly reproducible on any
    engine/partitioning (the DeepWalk/node2vec corpus-builder shape,
    PPR estimation by walk counting, graph feature sampling — all need
    walks at scale more than they need true randomness, and a salted
    md5 IS the uniform choice, just a replayable one).

    Neighbor indexing is ``row_number`` per source ordered by
    destination id — deterministic, and the only per-node state the
    walk needs. Walkers at a node with no out-edges STOP and keep
    their position (``steps_taken`` records the truncation — the
    documented dead-end contract).

    Returns ``(walk_id, final_node, path, steps_taken)`` — one walk
    per distinct node, path as '>'-joined ids.

    Scale shape: per step, one left join of the walker frame to the
    degree table plus one equi-join to the indexed adjacency on
    (node, picked index) — walker cardinality never grows, the
    adjacency never shuffles more than its key partitioning, and
    ``walk_length`` is a bounded unroll (the oracle replays the same
    rounds). Hot nodes cost their in-walker traffic, not their degree:
    the index join probes exactly ONE neighbor row per walker.
    """
    if walk_length < 1:
        raise ValueError("random_walks: walk_length must be >= 1")
    with held() as hold:
        e = hold(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
            .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
        )
        # adj and deg feed every unrolled step — cached, or the caller's
        # edge-building plan re-derives per step (audited: 182 exchanges in
        # the uncached 4-step plan vs 13 cached)
        adj = hold(e.select(
            "src",
            "dst",
            F.row_number()
            .over(Window.partitionBy("src").orderBy(F.col("dst").asc()))
            .cast("long")
            .alias("idx"),
        ))
        deg = hold(e.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        ))
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        walkers = nodes.select(
            F.col("node").alias("walk_id"),
            F.col("node").alias("cur"),
            F.col("node").cast("string").alias("path"),
            F.lit(0).cast("long").alias("steps_taken"),
        )
        for t in range(1, walk_length + 1):
            probed = walkers.join(
                deg.select(F.col("src").alias("cur"), "deg"), "cur", "left"
            ).withColumn(
                "__pick",
                F.when(
                    F.col("deg").isNotNull(),
                    F.lit(1)
                    + F.pmod(
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("walk_id").cast("string"),
                                        F.lit(f"|{t}|rw"),
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long"),
                        F.col("deg"),
                    ),
                ),
            )
            moved = probed.filter(F.col("__pick").isNotNull()).join(
                adj.select(
                    F.col("src").alias("cur"),
                    F.col("idx").alias("__pick"),
                    F.col("dst").alias("__next"),
                ),
                ["cur", "__pick"],
            ).select(
                "walk_id",
                F.col("__next").alias("cur"),
                F.concat(
                    F.col("path"), F.lit(">"), F.col("__next").cast("string")
                ).alias("path"),
                (F.col("steps_taken") + 1).alias("steps_taken"),
            )
            stopped = probed.filter(F.col("__pick").isNull()).select(
                "walk_id", "cur", "path", "steps_taken"
            )
            # Detach each step (lazy localCheckpoint, the house iterative
            # discipline): moved and stopped BOTH embed the previous
            # walker frame's lineage, so the undetached union doubles the
            # plan per step — 2^walk_length copies of step 1 by the end
            # (round 10: measured 27.8 -> 6.0 s min-of-3 at sf0.1;
            # exchange reuse hid some but not all of the recompute).
            walkers = detach(moved.unionByName(stopped), eager=False)
        return detach(
            walkers.select(
                "walk_id",
                F.col("cur").alias("final_node"),
                "path",
                "steps_taken",
            ),
            eager=True,
        )


def ktruss(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 4,
    max_rounds: int = 3,
) -> DataFrame:
    """Bounded k-truss peeling (Cohen 2008) — the EDGE-level cohesion
    filter next to :func:`kcore`'s node-level one: repeatedly delete
    edges supported by fewer than k-2 triangles (within the surviving
    subgraph) for ``max_rounds`` synchronous rounds, returning the
    surviving oriented edges with their final support. Trusses survive
    k-core where cores don't imply cohesion: a star is a 2-core hub
    with ZERO triangles, while a k-truss edge sits in k-2 overlapping
    triangles — the community-backbone / spam-clique separator.

    Per round, support comes from the Suri-Vassilvitskii oriented
    wedge enumeration (the same two-join shape as
    :func:`..dedup.triangle_count`, each triangle found once at its
    lowest vertex), exploded to its three member edges and counted per
    edge — orientation caps wedge fan-out at O(√|E|) per vertex, the
    hub-taming argument.

    Truncation contract (kcore's, verbatim in spirit, tested):
    truncation only UNDER-peels — every edge the bounded run removes,
    the true truss peel also removes (support is monotone
    non-increasing as edges leave), but a peel cascade longer than
    ``max_rounds`` leaves edges one more round would delete.
    Survivors' supports are exact within the surviving subgraph.

    Scale shape: per round two equi-joins (wedge + close), one 3×
    explode, one keyed count, one semi-join filter — no windows, no
    cartesians; the edge frame shrinks monotonically and is cached per
    round, released when the result materializes.
    """
    if k < 3 or max_rounds < 1:
        raise ValueError("ktruss: k must be >= 3 and max_rounds >= 1")
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    def _support(ef: DataFrame) -> DataFrame:
        w1 = ef.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
        w2 = ef.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
        tri = (
            w1.join(w2, "wa")
            .filter(F.col("wb") < F.col("wc"))
            .join(
                ef.select(F.col("a").alias("wb"), F.col("b").alias("wc")),
                ["wb", "wc"],
            )
        )
        return (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("wa").alias("a"), F.col("wb").alias("b")
                        ),
                        F.struct(
                            F.col("wa").alias("a"), F.col("wc").alias("b")
                        ),
                        F.struct(
                            F.col("wb").alias("a"), F.col("wc").alias("b")
                        ),
                    )
                ).alias("__e")
            )
            .select(F.col("__e.a").alias("a"), F.col("__e.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
        )

    with held() as hold:
        for _ in range(max_rounds):
            e = hold(e)
            keep = _support(e).filter(F.col("support") >= k - 2)
            e = e.join(keep.select("a", "b"), ["a", "b"], "left_semi")
        # support reported WITHIN the final surviving subgraph — the
        # last round's deletions may have lowered it, so one final
        # enumeration (the docstring's exactness claim)
        e = hold(e)
        sup = _support(e)
        out = e.join(sup, ["a", "b"], "left").select(
            F.col("a").alias("src"),
            F.col("b").alias("dst"),
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
        return detach(out, eager=True)


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
) -> DataFrame:
    """Seed-set harmonic centrality, bounded at ``max_hops`` rounds:

        H_S(t) = Σ_{s ∈ S, 1 ≤ d(s,t) ≤ max_hops} 1 / d(s,t)

    — the distance-weighted influence score next to :func:`bfs_hops`'
    plain radius (a node one hop from ten seeds outranks a node ten
    hops from each; plain reachability cannot tell them apart). The
    classic all-sources form is O(V²); the scalable deployment sums
    over a seed SAMPLE — the same contract as personalized PageRank's
    source set.

    Exactness: every reciprocal is cleared through ``L = lcm(1..max_
    hops)`` — the per-source contribution ``L div d`` is an exact
    integer (L is divisible by every attainable d), so ``h_num = Σ L/d``
    accumulates as integers and the only floating point is the single
    final division ``h_num / L``. Bit-identical across engines,
    partitionings, and summation orders.

    Truncation contract (the :func:`bfs_hops` one, inherited): within
    the horizon every distance is the true minimum, so truncation only
    LOSES far-away contributions, never corrupts near ones.

    Output: ``(node, n_sources, h_num, harmonic)`` — one row per node
    within the horizon of ≥1 seed (seed-to-itself d=0 contributes
    nothing; a seed reached only by itself is absent).

    Scale shape: per round one equi-join of the (seed, node, hop)
    frame to the cached edge list + one min aggregate on (seed, node)
    — state is |S|·|reached| narrow rows, the price of per-seed
    distances (the personalized-PageRank state shape, not the
    single-frontier bfs_hops one); rounds bounded by ``max_hops``.
    Edge cache held until the result materializes.
    """
    import math

    if max_hops < 1:
        raise ValueError("harmonic_centrality: max_hops must be >= 1")
    lcm = math.lcm(*range(1, max_hops + 1))
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    with held() as hold:
        e = hold(e)
        dist = (
            seeds.select(F.col(seed_col).alias("seed"))
            .distinct()
            .select("seed", F.col("seed").alias("node"), F.lit(0).cast("int").alias("hop"))
        )
        for _ in range(max_hops):
            reached = e.join(
                dist, on=F.col("src") == F.col("node")
            ).select(
                "seed",
                F.col("dst").alias("node"),
                (F.col("hop") + F.lit(1)).cast("int").alias("hop"),
            )
            dist = detach(
                dist.unionByName(reached)
                .groupBy("seed", "node")
                .agg(F.min("hop").alias("hop")),
                eager=True,
            )
        contrib = dist.filter(F.col("hop") >= 1).select(
            "node",
            F.expr(f"{lcm} div hop").cast("long").alias("__c"),
        )
        out = contrib.groupBy("node").agg(
            F.count(F.lit(1)).cast("long").alias("n_sources"),
            F.sum("__c").cast("long").alias("h_num"),
        ).select(
            "node",
            "n_sources",
            "h_num",
            (F.col("h_num").cast("double") / F.lit(float(lcm))).alias(
                "harmonic"
            ),
        )
        out = detach(out, eager=True)
        return out


def link_prediction(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
) -> DataFrame:
    """Neighborhood link prediction over an undirected graph: for every
    NON-adjacent pair at distance 2, the three classic exact scores —

        common_neighbors = |Γ(a) ∩ Γ(b)|
        jaccard          = |Γ(a) ∩ Γ(b)| / |Γ(a) ∪ Γ(b)|
        pref_attachment  = deg(a) · deg(b)

    (Adamic-Adar's Σ 1/log deg(z) is deliberately NOT offered: the
    variable-order float sum over arbitrary logs cannot be made
    engine-exact; its log-free sibling, resource allocation Σ 1/deg(z),
    has no common denominator either. These three are pure integers
    plus one division.) The "which docs/products will co-occur next"
    primitive; the missing-edge counterpart of :func:`triangles`.

    ``min_common`` prunes the candidate set AT THE AGGREGATE (a pair
    sharing one neighbor is noise at corpus scale).

    Output: ``(node_a, node_b, common_neighbors, deg_a, deg_b,
    jaccard, pref_attachment)``, ``node_a < node_b``.

    Scale shape: one wedge self-join on the center (the
    :func:`triangles` shape, Σ deg² rows pre-aggregate), one count
    aggregate per pair, a LEFT ANTI against the edge set to keep only
    non-edges, and a broadcast-back of the bounded degree frame. No
    windows, no cartesians.
    """
    if min_common < 1:
        raise ValueError("link_prediction: min_common must be >= 1")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
    )
    # The symmetric edge frame feeds four consumers (degrees, both
    # wedge sides, the non-edge anti-join) — materialize once or the
    # upstream edge construction re-executes per reference (measured
    # as a 30-exchange plan on the co-purchase build).
    sym = detach(
        und.unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct(),
        eager=True,
    )
    deg = sym.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    centers = sym.select(F.col("b").alias("z"), F.col("a").alias("n"))
    left = centers.select("z", F.col("n").alias("node_a"))
    right = centers.select("z", F.col("n").alias("node_b"))
    wedges = left.join(right, "z").filter(F.col("node_a") < F.col("node_b"))
    cn = wedges.groupBy("node_a", "node_b").agg(
        F.count(F.lit(1)).cast("long").alias("common_neighbors")
    ).filter(F.col("common_neighbors") >= min_common)
    non_edges = cn.join(
        sym.select(
            F.col("a").alias("node_a"), F.col("b").alias("node_b")
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
    out = (
        non_edges.join(
            F.broadcast(
                deg.select(F.col("node").alias("node_a"), F.col("deg").alias("deg_a"))
            ),
            "node_a",
        )
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("node_b"), F.col("deg").alias("deg_b"))
            ),
            "node_b",
        )
    )
    return out.select(
        "node_a",
        "node_b",
        "common_neighbors",
        "deg_a",
        "deg_b",
        (
            F.col("common_neighbors").cast("double")
            / (
                F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")
            ).cast("double")
        ).alias("jaccard"),
        (F.col("deg_a") * F.col("deg_b")).cast("long").alias(
            "pref_attachment"
        ),
    )
