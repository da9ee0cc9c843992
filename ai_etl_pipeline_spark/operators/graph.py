"""Graph operators over an edge relation (north-star extension; ABSENT
in the reference, which has no relational surface at all — SURVEY.md
§2.4): PageRank, label propagation and HITS; k-core peeling, the
triangle and degree census, k-hop BFS and bipartite link prediction.
Connected components by contraction (the dedup workhorse) lives in
``dedup.near_duplicate_clusters``.

The FIXED-ROUND TIER — :func:`pagerank`, :func:`label_propagation` and
:func:`hits` — runs a fixed number of rounds, each one edge-sized join
plus one node-sized aggregate. There are no driver actions and no
convergence probes, so the whole computation stays one lazy plan,
resumable and replayable like any other DataFrame, and the DuckDB
oracle unrolls the same rounds. All three run through
:func:`_fixed_rounds`, which owns the tier's one truncation rule: the
state frame is lazily ``localCheckpoint``ed after every ``every``-th
round except the last. ``every`` is a per-operator constant, not an
option: PySpark analyzes eagerly per transformation, so plan-build cost
grows quadratically between truncations, while every truncation pays a
full physical planning for the df→RDD conversion.

Arithmetic is INTEGER micro-units (rank scaled by ``base``) with
integer division everywhere: floating-point PageRank is
accumulation-order-dependent (different engines, different partition
orders → different low bits), which would make cross-engine
verification a tolerance argument. Integer ranks make the fixpoint
iteration BIT-EXACT — the DuckDB oracle unrolls the same iterations
and hash-matches the ranks, something float centrality cannot offer.
The cost is bounded truncation drift (≤ 1 unit per division at
base=1e6 — i.e. ≤ 1e-6 of a rank per hop), irrelevant for ordering
entities by importance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Truncation cadences of the fixed-round tier. PageRank: 3 measured ~25%
# faster end-to-end than 6 at 8 iterations, and 1 slower again (≈ 10 s
# vs 6.5-7 s on the 8-iteration trade graph); directed mode truncates
# every round instead (see :func:`pagerank`).
_PAGERANK_EVERY = 3
_LABEL_PROPAGATION_EVERY = 2
_HITS_EVERY = 4


def _fixed_rounds(
    state: DataFrame, rounds: int, every: int, step, receipt=None
) -> tuple[DataFrame, DataFrame | None]:
    """Apply ``step`` to the node-keyed ``state`` frame ``rounds`` times,
    lazily truncating its lineage after every ``every``-th round except
    the last. Returns ``(final state, receipt frame or None)``.

    ``receipt=(col, name, agg)`` snapshots the penultimate state
    (checkpointed, so comparing against it does not recompute the
    shared chain) and builds the one-row ``name`` column
    ``coalesce(agg(final col, penultimate col), 0)`` over the nodes
    present in both."""
    prev = None
    for it in range(rounds):
        if receipt is not None and it == rounds - 1:
            state = prev = state.localCheckpoint(eager=False)
        state = step(state)
        if (it + 1) % every == 0 and it + 1 < rounds:
            state = state.localCheckpoint(eager=False)
    if receipt is None:
        return state, None
    col, name, agg = receipt
    last = state.join(
        prev.select(F.col("__node"), F.col(col).alias("__prev")), "__node"
    ).agg(
        F.coalesce(agg(F.col(col), F.col("__prev")), F.lit(0))
        .cast("bigint")
        .alias(name)
    )
    return state, last


def _arcs(
    edges: DataFrame, src_col: str, dst_col: str, symmetric: bool, *extra
) -> DataFrame:
    """``(__src, __dst, *extra)`` without self-loops; ``symmetric`` adds
    every arc reversed, carrying the same ``extra`` columns. Not
    deduplicated — callers collapse parallel arcs their own way."""
    e = edges.select(
        F.col(src_col).alias("__src"), F.col(dst_col).alias("__dst"), *extra
    )
    if symmetric:
        e = e.unionByName(
            e.select(
                F.col("__dst").alias("__src"),
                F.col("__src").alias("__dst"),
                *e.columns[2:],
            )
        )
    return e.where(F.col("__src") != F.col("__dst"))


def _undirected(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Each undirected non-loop edge once, as ``(a, b)`` with ``a < b``."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _degrees(e: DataFrame) -> DataFrame:
    """``(n, d)``: the degree of every endpoint of an ``(a, b)`` edge set."""
    return (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
    damping_pct: int = 85,
    base: int = 1_000_000,
    symmetric: bool = True,
    seeds: DataFrame | None = None,
    delta_receipt: bool = False,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """Damped random-walk centrality over an edge relation: fixed
    ``iterations`` of the personalization-vector update

        ``rank'(u) = (seed(u)·(tele + d·share) + d·Σ_{v→u}
        (rank(v)·w(v,u) div out_w(v))) div 100``

    with integer micro-unit arithmetic (see module docstring).
    ``seed(u)`` is 1 on the restart set and 0 elsewhere, ``tele`` is
    the per-restart-node teleport mass and ``share`` is the per-restart-
    node share of the rank sitting on sinks. Every mode below is this
    one update with different inputs.

    Without ``seeds`` every node is in the restart set and
    ``tele = (100 - d)·base`` (the uniform teleport). ``seeds`` (a
    one-column frame of node ids) switches to PERSONALIZED PageRank:
    the same total teleport mass, ``(100-d)·base·n_nodes``, lands
    entirely on the seed set (``div n_seeds`` each), so ranks measure
    proximity TO THE SEEDS along the graph (related-entity retrieval).
    Seeds not present in the edge set are ignored; an empty or disjoint
    seed set fails loudly on division by zero.

    ``symmetric=True`` unions the reversed edges first — the
    undirected-graph rendering, which guarantees no dangling nodes, so
    ``share`` is the literal 0 and no sink aggregate is planned.
    ``symmetric=False`` is the genuinely directed mode: the node set is
    the union of BOTH endpoints (pure sinks — nodes with only in-edges
    — get output rows), and the rank mass on sinks each iteration
    re-enters through the restart set (``share = Σ_sink rank div
    n_restart``, one scalar aggregate per iteration): uniformly without
    seeds, on the seeds with them — a random surfer who hits a dead end
    restarts where it would teleport to.

    ``weight_col``: WEIGHTED random walk — each out-edge receives rank
    proportional to its (positive integer) weight; parallel edges
    collapse by summing weights, and ``degree`` in the output becomes
    the out-STRENGTH (weight sum). Unweighted, parallel edges collapse
    to one and every weight is 1. Symmetric mode mirrors each edge with
    its weight.

    ``init_ranks``: WARM START (incremental maintenance) from a previous
    run's ``(node, rank)`` output instead of the uniform ``base``.
    Because the iteration is a deterministic pure function of the rank
    frame, ``pagerank(init=pagerank(edges, k), m)`` is BIT-EQUAL to
    ``pagerank(edges, k + m)`` on an unchanged graph, and on a mutated
    graph it converges from the warm point. Nodes new since the snapshot
    start at ``base``; departed nodes' rows are dropped.

    ``delta_receipt`` appends ``max_delta``: the max absolute rank
    change between the final two iterations, in micro-units — the
    fixpoint-proximity receipt that says whether the FIXED iteration
    count was enough (same scalar on every row, still zero driver
    actions).

    The rank frame is truncated every 3 iterations; in directed mode it
    is read TWICE per iteration (the contributions and the sink mass),
    so there it is truncated every iteration — otherwise the doubled
    subtree is genuinely recomputed (a before-plan of the directed
    personalized query carried 168 BroadcastExchanges with zero
    ReusedExchange; per-iteration truncation measured 8.0→4.3 s).

    Node set = all edge endpoints; ranks start at ``base`` each.
    Returns ``(node, rank, degree[, max_delta])`` — rank in
    micro-units, degree = out-degree (0 for pure sinks in directed
    mode).
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    if not 1 <= damping_pct <= 99:
        raise ValueError(f"pagerank: damping_pct must be in [1, 99], got {damping_pct}")
    if weight_col is None:
        e = _arcs(edges, src_col, dst_col, symmetric).distinct()
        e = e.withColumn("__w", F.lit(1).cast("bigint"))
    else:
        # zero/negative weights are rejected in-plan
        w = F.col(weight_col).cast("bigint").alias("__w")
        e = (
            _arcs(edges, src_col, dst_col, symmetric, w)
            .groupBy("__src", "__dst")
            .agg(
                F.sum(
                    F.when(
                        F.col("__w") <= 0,
                        F.raise_error(
                            F.lit("pagerank: edge weights must be positive")
                        ).cast("bigint"),
                    ).otherwise(F.col("__w"))
                ).alias("__w")
            )
        )
    # Hash-partition the edge relation on the join key before caching:
    # the cached relation preserves outputPartitioning, so the
    # per-iteration contribution join reuses the layout and only the
    # node-sized rank frame moves per iteration.
    # STATIC relations (edges, degrees, node set) are cache()d, not
    # lazily checkpointed: a checkpoint physically plans its frame at
    # BUILD time, while InMemoryRelation defers to the first action and
    # is a leaf to every later optimization pass. Measured both ways:
    # cache wins for many-referenced or node-sized frames (PageRank's 8
    # reads of e amortize the columnar encode), while ops that read an
    # edge-sized string-heavy frame only 2-3 times in one heavy job
    # (triangle census, label propagation, HITS) measured 2-3x SLOWER
    # cached and keep lazy checkpoints instead.
    e = e.repartition(F.col("__src")).cache()
    deg = e.groupBy("__src").agg(F.sum("__w").alias("__deg")).cache()
    # after symmetrization every endpoint appears as a source
    nodes = e.select(F.col("__src").alias("__node"))
    if not symmetric:
        nodes = nodes.unionByName(e.select(F.col("__dst").alias("__node")))
    nodes = nodes.distinct().cache()
    # (node, out_degree) and the loop-invariant restart columns ride the
    # rank frame for the whole run: checkpointed frames lose their
    # output partitioning, so re-joining them every iteration would
    # re-shuffle both sides each round. Sinks are ``__deg IS NULL``.
    nd = nodes.join(
        deg.select(F.col("__src").alias("__node"), F.col("__deg")),
        "__node",
        "left",
    )
    teleport = (100 - damping_pct) * base
    n_nodes = nodes.agg(F.count("*").cast("bigint").alias("__n"))
    if seeds is None:
        n_restart = n_nodes
        nd = nd.select(
            "*",
            F.lit(1).alias("__is_seed"),
            F.lit(teleport).cast("bigint").alias("__tele"),
        )
    else:
        seed_nodes = (
            seeds.select(F.col(seeds.columns[0]).alias("__node"))
            .distinct()
            .join(nodes, "__node", "left_semi")
            .cache()
        )
        n_restart = seed_nodes.agg(F.count("*").cast("bigint").alias("__s"))
        tele = n_nodes.crossJoin(F.broadcast(n_restart)).select(
            F.expr(f"cast({teleport} as bigint) * __n div __s").alias("__tele")
        )
        nd = nd.join(
            seed_nodes.withColumn("__is_seed", F.lit(1)), "__node", "left"
        ).crossJoin(F.broadcast(tele))
        n_restart = n_restart.withColumnRenamed("__s", "__n")
    if not symmetric:
        # the one-row restart count is broadcast into every iteration
        n_restart = n_restart.cache()
    nd = nd.cache()
    if init_ranks is not None:
        prev = init_ranks.select(
            F.col(init_ranks.columns[0]).alias("__node"),
            F.col(init_ranks.columns[1]).cast("bigint").alias("__prev_rank"),
        )
        ranks = (
            nd.join(prev, "__node", "left")
            .select(
                *[F.col(c) for c in nd.columns],
                F.coalesce(F.col("__prev_rank"), F.lit(base).cast("bigint"))
                .alias("__rank"),
            )
            .localCheckpoint(eager=False)
        )
    else:
        ranks = nd.withColumn("__rank", F.lit(base).cast("bigint"))
    share = "0" if symmetric else "__share"
    rank = F.expr(
        f"(coalesce(__is_seed, 0) * (__tele + {damping_pct} * {share}) + "
        f"{damping_pct} * coalesce(__incoming, cast(0 as bigint))) div 100"
    ).alias("__rank")
    static_cols = [c for c in nd.columns if c != "__node"]

    def step(cur: DataFrame) -> DataFrame:
        # the edge relation is the big side: touch it exactly once per
        # iteration, splitting each source's rank in the one edge join
        src = cur.where(F.col("__deg").isNotNull()).select(
            F.col("__node").alias("__src"), F.col("__rank"), F.col("__deg")
        )
        incoming = (
            e.join(src, "__src")
            .groupBy("__dst")
            .agg(F.sum(F.expr("(__rank * __w) div __deg")).alias("__incoming"))
        )
        new = nd.join(incoming, nd["__node"] == incoming["__dst"], "left")
        if not symmetric:
            # scalar payloads only (the one-row broadcast crossJoin rule)
            sink_share = (
                cur.where(F.col("__deg").isNull())
                .agg(
                    F.coalesce(F.sum("__rank"), F.lit(0))
                    .cast("bigint")
                    .alias("__sink_sum")
                )
                .crossJoin(F.broadcast(n_restart))
                .select(F.expr("__sink_sum div __n").alias("__share"))
            )
            new = new.crossJoin(F.broadcast(sink_share))
        return new.select(F.col("__node"), *static_cols, rank)

    ranks, delta = _fixed_rounds(
        ranks,
        iterations,
        _PAGERANK_EVERY if symmetric else 1,
        step,
        ("__rank", "max_delta", lambda cur, prev: F.max(F.abs(cur - prev)))
        if delta_receipt
        else None,
    )
    out = ranks.select(
        F.col("__node").alias("node"),
        F.col("__rank").alias("rank"),
        F.coalesce(F.col("__deg"), F.lit(0)).cast("bigint").alias("degree"),
    )
    if delta is not None:
        out = out.crossJoin(F.broadcast(delta))
    return out


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    mode: str = "components",
    change_receipt: bool = False,
) -> DataFrame:
    """Fixed-round label propagation over an undirected edge relation
    — a member of the fixed-round graph tier (PageRank's and HITS'
    sibling; no reference counterpart, SURVEY.md §2.4).

    ``mode='components'`` is min-label propagation: each round every
    node takes the minimum of its own label and its neighbors' labels,
    so after R rounds two nodes share a label iff they are within
    graph distance R of the component minimum — connected components
    for any graph whose component RADIUS (from the min-id node) is
    ≤ R. This is the receipt-style twin of
    ``dedup.near_duplicate_clusters``: same answer, completely
    different algorithm (flat per-round relabel vs pointer-halving
    contraction), which makes it the natural cross-check.

    ``mode='communities'`` is majority-vote label propagation (classic
    LPA community detection): each round every node adopts its
    neighbors' most frequent label, ties broken deterministically by
    (count DESC, label ASC) — dense neighborhoods lock onto one label
    within a few rounds, sparse cut edges don't carry enough votes to
    cross. Synchronous updates with a total tiebreak order keep the
    result engine-independent (classic LPA randomizes update order;
    that would be unverifiable).

    Edges are symmetrized, self-loops dropped; the node set is all
    endpoints and every node starts with its own id as label.

    Scale shape: per round, one edge-sized equi-join (edges are
    hash-partitioned on the join key once, before a lazy
    localCheckpoint, so each round re-shuffles only the node-sized
    label frame) + one destination-keyed aggregate (components: MIN —
    map-side combinable; communities: per-(node,label) counts + one
    row_number window). The label frame is truncated every 2 rounds.

    ``change_receipt`` appends ``n_changed``: how many labels the
    FINAL round changed (same scalar every row, broadcast crossJoin —
    scalars only). 0 proves the fixed round count reached the
    fixpoint; >0 says the result is the R-round approximation — the
    k-core ``is_converged`` contract.

    Returns ``(node, label[, n_changed])``.
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}"
        )
    if mode not in ("components", "communities"):
        raise ValueError(
            "label_propagation: mode must be 'components' or 'communities', "
            f"got {mode!r}"
        )
    from pyspark.sql import Window

    e = (
        _arcs(edges, src_col, dst_col, True)
        .distinct()
        .repartition(F.col("__src"))
        .localCheckpoint(eager=False)
    )
    # symmetrized: src alone covers every endpoint
    nodes = (
        e.select(F.col("__src").alias("__node")).distinct().localCheckpoint(eager=False)
    )

    def step(labels: DataFrame) -> DataFrame:
        lab_src = labels.select(F.col("__node").alias("__src"), F.col("__label"))
        if mode == "components":
            nbr = (
                e.join(lab_src, "__src")
                .groupBy("__dst")
                .agg(F.min("__label").alias("__nbr"))
            )
            new = F.least(F.col("__label"), F.coalesce(F.col("__nbr"), F.col("__label")))
        else:
            cnt = (
                e.join(lab_src, "__src")
                .groupBy("__dst", "__label")
                .agg(F.count(F.lit(1)).alias("__c"))
            )
            w = Window.partitionBy("__dst").orderBy(
                F.col("__c").desc(), F.col("__label").asc()
            )
            nbr = (
                cnt.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(F.col("__dst"), F.col("__label").alias("__nbr"))
            )
            new = F.coalesce(F.col("__nbr"), F.col("__label"))
        return labels.join(nbr, labels["__node"] == nbr["__dst"], "left").select(
            F.col("__node"), new.alias("__label")
        )

    labels, changed = _fixed_rounds(
        nodes.withColumn("__label", F.col("__node")),
        iterations,
        _LABEL_PROPAGATION_EVERY,
        step,
        ("__label", "n_changed", lambda cur, prev: F.sum((cur != prev).cast("bigint")))
        if change_receipt
        else None,
    )
    out = labels.select(F.col("__node").alias("node"), F.col("__label").alias("label"))
    if changed is not None:
        out = out.crossJoin(F.broadcast(changed))
    return out


def k_core(
    edges: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 8,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected
    edge relation: repeatedly drop nodes whose degree (within the
    surviving subgraph) is below ``k``. The density filter of a
    near-dup match graph — chains and stars peel away, genuine
    duplicate cliques survive — and the classic cheap preconditioner
    before clique-ish analyses (every triangle lives in the 2-core).

    ``iterations`` is a FIXED peel count, not a convergence probe: the
    whole computation stays one lazy plan (no driver actions), each
    round is one edge-sized semi-join pass + one node-sized degree
    aggregate, and the DuckDB oracle can unroll the same rounds. Each
    round removes every node currently under-degree, so ``iterations``
    bounds the peel DEPTH (longest chain of cascading removals), which
    is tiny for real graphs; if the fixpoint needs more rounds the
    result is a superset — and SAYS SO: one extra peel round (still
    lazy, same plan) proves or refutes the fixpoint, emitted as the
    ``is_converged`` column (true iff the extra round removed nothing).
    A long dependency chain can no longer silently over-report its
    core.

    Returns ``(node, degree, is_converged)`` for surviving nodes —
    degree within the surviving subgraph; ``is_converged`` is the same
    scalar on every row (broadcast flag, no driver action)."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if iterations < 1:
        raise ValueError(f"k_core: iterations must be >= 1, got {iterations}")

    def peel(alive: DataFrame) -> DataFrame:
        keep = _degrees(alive).where(F.col("d") >= k).select("n")
        keep = keep.localCheckpoint(eager=False)
        return alive.join(keep.withColumnRenamed("n", "a"), "a", "left_semi").join(
            keep.withColumnRenamed("n", "b"), "b", "left_semi"
        )

    alive_e = _undirected(edges, src_col, dst_col).cache()
    for _ in range(iterations):
        alive_e = peel(alive_e).localCheckpoint(eager=False)
    # convergence certificate: one extra peel round — the peel is a
    # monotone contraction (next_e ⊆ alive_e), so equal EDGE COUNTS
    # prove the fixpoint; one scalar-only broadcast crossJoin
    next_e = peel(alive_e)
    converged = (
        alive_e.agg(F.count(F.lit(1)).alias("__before"))
        .crossJoin(F.broadcast(next_e.agg(F.count(F.lit(1)).alias("__after"))))
        .select((F.col("__before") == F.col("__after")).alias("is_converged"))
    )
    return (
        _degrees(alive_e)
        .where(F.col("d") >= k)
        .select(F.col("n").alias("node"), F.col("d").alias("degree"))
        .crossJoin(F.broadcast(converged))
    )


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Global triangle count over an undirected edge relation — the
    cluster-cohesion measure of a near-dup graph (cliques from true
    duplicate families close their triangles; chains from borderline
    matches don't). DEGREE-ORDERED orientation (the standard
    hub-skew-proof rendering): orient every edge from its
    lower-(degree, id) endpoint to the higher, generate wedges only
    from each node's OUT-neighbors, and close them with a semi-join
    against the oriented set. A triangle's three vertices have a
    unique (degree, id) total order u < v < w, so it is generated
    exactly once (as the wedge (v, w) at u) — the count is exact —
    while every node's out-degree is bounded by ~sqrt(2m), bounding
    total wedges to O(m^1.5) REGARDLESS of hub skew (a star graph
    produces zero wedges instead of O(deg²)). Three candidate-sized
    equi-joins + one node-sized degree aggregate. Returns one row
    ``(n_nodes, n_edges, n_triangles)``."""
    # lazy checkpoint: the edge set feeds the degree aggregate, the
    # orientation join and the census; the oriented set is referenced
    # three times (two wedge sides + the closure semi-join) — without
    # truncation each reference re-executes the whole upstream pair
    # generator (minhash pipeline in the near-dup query — measured 7 s
    # for a 2 s graph)
    e = _undirected(edges, src_col, dst_col).localCheckpoint(eager=False)
    deg = _degrees(e).localCheckpoint(eager=False)
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("d").alias("__da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("d").alias("__db")), "b")
    # a < b lexically (normalized above), so on a degree tie a wins the
    # (degree, id) order — a_first collapses to __da <= __db
    a_first = F.col("__da") <= F.col("__db")
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("__db")).otherwise(F.col("__da")).alias("__ddst"),
    ).localCheckpoint(eager=False)
    o1 = oriented.select("src", F.col("dst").alias("v"), F.col("__ddst").alias("__dv"))
    o2 = oriented.select("src", F.col("dst").alias("w"), F.col("__ddst").alias("__dw"))
    # pair out-neighbors in (degree, id) order so each unordered pair
    # appears once, oriented the same way the closing edge v→w is
    wedges = o1.join(o2, "src").where(
        (F.col("__dv") < F.col("__dw"))
        | ((F.col("__dv") == F.col("__dw")) & (F.col("v") < F.col("w")))
    )
    tri = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def hits(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 6,
    base: int = 1_000_000,
) -> DataFrame:
    """Hubs-and-authorities (HITS / Kleinberg) over a directed edge
    relation: fixed ``iterations`` of the coupled power iteration
    ``auth(j) = Σ_{i→j} hub(i)`` then ``hub(i) = Σ_{i→j} auth(j)``,
    each half-step L1-renormalized to total mass ``n_nodes·base`` in
    INTEGER micro-units (``score·n·base div Σ score`` — the module's
    bit-exact cross-engine contract; classic HITS L2-normalizes, but
    any positive rescaling has the same fixpoint directions and L1
    keeps the arithmetic in exact integers).

    A hub is a node that points at many good authorities (a curator /
    broad buyer); an authority is pointed at by many good hubs (a
    canonical source / widely-bought supplier) — the complementary
    centrality pair PageRank's single score can't separate, and the
    natural ranking for bipartite-ish interaction graphs.

    Scale shape: the deduplicated edge relation is hash-partitioned
    and lazily checkpointed TWICE — once on ``src`` (the auth
    half-step joins hubs on src) and once on ``dst`` (the hub
    half-step joins auths on dst) — so each half-step reuses a
    co-located layout instead of re-shuffling the big edge side;
    only the node-sized score frame moves per iteration. The L1 total
    is one scalar aggregate per half-step (broadcast as a scalar —
    the one-row crossJoin rule), there are no driver actions, and the
    hub frame is truncated every 4 rounds. The renormalization product
    (≈ n²·base²) runs in exact decimal(38,0) — wide enough past a
    quadrillion nodes — and the quotient drops back to bigint.

    An empty edge set (after self-loop removal) has an empty node set
    and returns an EMPTY frame — zero rows, not silent zero scores.

    Returns one row per node (union of BOTH endpoints): ``node``,
    ``hub``, ``auth`` (micro-unit bigints).
    """
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    e_src = (
        _arcs(edges, src_col, dst_col, False)
        .distinct()
        .repartition(F.col("__src"))
        .localCheckpoint(eager=False)
    )
    e_dst = e_src.repartition(F.col("__dst")).localCheckpoint(eager=False)
    nodes = (
        e_src.select(F.col("__src").alias("__node"))
        .unionByName(e_src.select(F.col("__dst").alias("__node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # scalar total mass for the renormalization — computed once
    total = nodes.agg(
        F.expr(f"count(*) * cast({base} as bigint)").alias("__total")
    ).localCheckpoint(eager=False)

    def half_step(
        e: DataFrame, scores: DataFrame, frm: str, to: str, score_in: str, score: str
    ) -> DataFrame:
        # sum ``score_in`` along the arcs frm→to, rescale to Σ = n·base
        # and re-attach the zero-score nodes. raw is referenced TWICE
        # (the scalar sum + the values) — lazily checkpoint so the plan
        # is truncated to a LogicalRDD instead of DOUBLING per half-step
        # (2^(2·iterations) leaf expansion otherwise; planning alone
        # dominated the wall time)
        raw = (
            e.join(scores, e[frm] == scores["__node"])
            .groupBy(to)
            .agg(F.sum(score_in).alias(score))
            .select(F.col(to).alias("__node"), F.col(score))
            .localCheckpoint(eager=False)
        )
        s = raw.agg(F.sum(score).cast("bigint").alias("__sum"))
        return (
            nodes.join(raw, "__node", "left")
            .crossJoin(F.broadcast(s))
            .crossJoin(F.broadcast(total))
            .select(
                F.col("__node"),
                # score ≤ total = n·base, so score·total ≈ n²·base² —
                # overflowed int64 at 8M nodes in the scale bench; the
                # quotient is back ≤ total and fits bigint
                F.expr(
                    f"cast(cast(coalesce({score}, 0) as decimal(38, 0)) "
                    "* __total div __sum as bigint)"
                ).alias(score),
            )
        )

    auths = None

    def step(hubs: DataFrame) -> DataFrame:
        nonlocal auths
        auths = half_step(e_src, hubs, "__src", "__dst", "__hub", "__auth")
        return half_step(e_dst, auths, "__dst", "__src", "__auth", "__hub")

    hubs, _ = _fixed_rounds(
        nodes.withColumn("__hub", F.lit(base).cast("bigint")),
        iterations,
        _HITS_EVERY,
        step,
    )
    return hubs.join(auths, "__node").select(
        F.col("__node").alias("node"),
        F.col("__hub").alias("hub"),
        F.col("__auth").alias("auth"),
    )


def k_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 4,
    symmetric: bool = False,
) -> DataFrame:
    """Multi-source BFS to a FIXED depth: the minimum hop distance
    from any seed to every node reachable within ``max_hops`` — the
    traversal primitive under "how far is this document/account/page
    from a trusted (or contaminated) set", k-hop neighborhood
    extraction, and blast-radius reports. Nodes beyond ``max_hops``
    are absent (distance is a certificate only up to the fixed depth —
    the k-core precedent: fixed rounds, no convergence probe, the
    whole computation stays one lazy plan with zero driver actions).

    Per hop: one join of the FRONTIER (nodes first reached on the
    previous hop — not the whole settled set) against the
    pre-partitioned, cached edge relation, then an anti-join against
    the settled set to keep only newly-reached nodes. Unit edge
    weights make this exact: a node's distance is final the moment it
    is first reached (BFS level order), so settled nodes can never
    propagate a smaller distance later and re-relaxing them is pure
    waste (re-joining ALL settled nodes costs ~4 full edge passes at
    depth 4 even after the reachable set saturates): the edge join
    touches only frontier-adjacent edges and the per-hop aggregate is
    frontier-sized (asserted against the driver-side BFS property
    test). ``symmetric=True`` unions reversed edges (undirected reach).

    Returns ``(node, dist)``, one row per reached node, ``dist`` in
    ``[0, max_hops]`` with seeds at 0.
    """
    if max_hops < 1:
        raise ValueError(f"k_hop_distances: max_hops must be >= 1, got {max_hops}")
    e = (
        _arcs(edges, src_col, dst_col, symmetric)
        .distinct()
        .repartition(F.col("__src"))
        .cache()
    )
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("__node"))
        .distinct()
        .withColumn("__dist", F.lit(0).cast("int"))
        .cache()
    )
    frontier = dist
    for _ in range(max_hops):
        relaxed = e.join(frontier, e["__src"] == frontier["__node"]).select(
            F.col("__dst").alias("__node"),
            (F.col("__dist") + F.lit(1)).cast("int").alias("__dist"),
        )
        # every distance produced this hop is the same (hop index), so
        # the min-agg is a frontier-sized dedup, and the anti-join drops
        # nodes already settled on an earlier (strictly smaller) hop —
        # the settled set itself is never re-relaxed
        newly = (
            relaxed.groupBy("__node")
            .agg(F.min("__dist").alias("__dist"))
            .join(dist, "__node", "left_anti")
            # referenced twice (next hop's edge join + the settled
            # union) — lazy checkpoint keeps the plan linear in max_hops
            .localCheckpoint(eager=False)
        )
        dist = dist.unionByName(newly)
        frontier = newly
    return dist.select(F.col("__node").alias("node"), F.col("__dist").alias("dist"))


def link_prediction(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    min_common: int = 2,
    max_src_degree: int = 256,
) -> DataFrame:
    """Bipartite link prediction: score every RIGHT-node pair (dst)
    sharing at least ``min_common`` LEFT neighbors (src) with the three
    classic neighborhood measures — common-neighbor count, Jaccard
    over dst neighborhoods, and Adamic-Adar (rarer shared neighbors
    weigh more: ``Σ_z 1/ln(deg(z))`` over shared src ``z``). The
    recommender primitive over the engine's co-occurrence graphs
    (customer→supplier, doc→shard, user→item): a high-scoring absent
    pair is the "customers who buy from A also buy from B" candidate.

    Scores are integers for the hash gate: Adamic-Adar floors each
    term to micro-units BEFORE summing (an exact integer sum — the two
    engines only have to agree on floor(1e6/ln(d)) for small-int d),
    Jaccard is the usual exact micro-ratio.

    Scale contract: pair generation is a self-join keyed on src, so it
    is quadratic in src degree — src hubs above ``max_src_degree`` are
    EXCLUDED from wedge generation (the max_df idiom from the n-gram
    Jaccard tier: a customer connected to every supplier predicts
    nothing) but still count toward dst degrees, keeping Jaccard
    denominators honest. Everything else is candidate- or degree-sized;
    no driver actions. In a bipartite relation a dst-dst edge cannot
    exist, so no existing-edge exclusion is needed (unipartite callers
    should anti-join their edge set on (node_a, node_b) afterwards).

    Returns ``(node_a, node_b, common_neighbors, jaccard_micro,
    adamic_adar_micro)`` with ``node_a < node_b``.

    ABSENT in the reference (no graph surface; SURVEY.md §2.4 joins
    family — wedge join + bounded aggregates).
    """
    e = (
        edges.select(F.col(src_col).alias("__s"), F.col(dst_col).alias("__d"))
        .where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
        .distinct()
        .cache()
    )
    sdeg = e.groupBy("__s").agg(F.count(F.lit(1)).cast("bigint").alias("__sd"))
    ddeg = e.groupBy("__d").agg(F.count(F.lit(1)).cast("bigint").alias("__dd"))
    wedge = e.join(sdeg, "__s").where(
        (F.col("__sd") >= 2) & (F.col("__sd") <= max_src_degree)
    )
    a = wedge.select("__s", F.col("__d").alias("node_a"), "__sd")
    b = wedge.select("__s", F.col("__d").alias("node_b"))
    scored = (
        a.join(b, "__s")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum(
                F.expr("cast(floor(1000000.0 / ln(__sd)) as bigint)")
            ).alias("adamic_adar_micro"),
        )
        .where(F.col("common_neighbors") >= min_common)
    )
    return (
        scored.join(
            ddeg.select(F.col("__d").alias("node_a"), F.col("__dd").alias("__da")),
            "node_a",
        )
        .join(
            ddeg.select(F.col("__d").alias("node_b"), F.col("__dd").alias("__db")),
            "node_b",
        )
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            F.expr(
                "common_neighbors * 1000000 div (__da + __db - common_neighbors)"
            ).alias("jaccard_micro"),
            "adamic_adar_micro",
        )
    )


def degree_distribution(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Log₂-bucketed degree histogram of the undirected graph — the
    skew X-ray every graph operator's cost model starts from (a heavy
    tail says: salt the joins, cap the wedges). Bucket =
    ``floor(log2(degree))`` — log2 of a positive integer is exact at
    powers of two in IEEE, so the floor is engine-stable. One edge
    normalization, one node-sized degree aggregate, one bounded
    (≤ ~63-row) histogram aggregate.

    Returns ``(bucket, n_nodes, min_degree, max_degree)`` where bucket
    b covers degrees in [2^b, 2^(b+1))."""
    return (
        _degrees(_undirected(edges, src_col, dst_col))
        .select(
            F.expr("cast(floor(log2(cast(d as double))) as int)").alias("bucket"),
            "d",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").cast("bigint").alias("min_degree"),
            F.max("d").cast("bigint").alias("max_degree"),
        )
    )
