"""Iterative graph algorithms as DataFrame programs: weighted
PageRank and connected components (``dedup.dup_clusters`` delegates
its clustering to the shared :func:`connected_components` engine).

The reference's host engine has no graph operators; a training-data
pipeline wants them for link-structure quality signals (domain
authority over a hyperlink graph) and behavior modeling (transition
graphs). The Spark-first shape: each iteration is a join + map-side-
combined aggregate keyed on node ids — no driver-side adjacency, no
per-node loops — so the SAME plan runs on a 25-node transition graph
and a billion-node web graph. Every loop runs through
:func:`lindel_spark.util.iterate`, which ``localCheckpoint``-s the
state after every round but the last: ten iterations never compile a
thousand-operator plan, and the result is still a lazy frame.

Cache lifecycle (ADVICE r12): operators that return a LAZY frame
built over persisted intermediates (``link_prediction``, ``hits``,
and peers in other modules) deliberately do NOT unpersist them — the
caller's first action is what populates and consumes the cache, so an
in-function ``unpersist`` would drop it before use. Spark evicts
these MEMORY_AND_DISK blocks LRU under memory pressure and frees them
with the frame's GC (ContextCleaner), so a long session degrades to
recompute, never to OOM; callers running many graph ops back-to-back
can reclaim storage eagerly with ``spark.catalog.clearCache()`` (the
bench harness does exactly this between entries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lindel_spark.util import exact_sum, iterate, sorted_sum


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Weighted PageRank over a directed edge list; returns
    ``(node, rank)`` with ranks summing to 1.

    Per iteration: ranks join edges on ``src`` (contribution =
    rank · w / out-weight), one aggregate on ``dst``, and the dangling
    mass (rank parked on nodes without out-edges) folds back uniformly
    via a broadcast one-row frame — kept lazy, no per-iteration
    driver action. ``iterations`` is fixed rather than
    convergence-tested so results are deterministic and replayable by
    an unrolled SQL oracle. The per-node contribution sums and the
    dangling total are exact decimal sums, and each node's out-weight
    is summed in sorted order, so no sum depends on the order in which
    partial aggregates arrive: ranks are bit-identical under any
    partitioning of ``edges``. The iterations run through
    :func:`lindel_spark.util.iterate`: the node-sized rank frame is
    checkpointed after every iteration but the last, so building the
    result runs the node count plus ``iterations − 1`` checkpoints and
    no other driver action.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark import StorageLevel

    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    # the edge list, node set and out-weights are read EVERY iteration
    # — without persisting them each iteration's lineage would rerun
    # the caller's whole edge-derivation (often a window over the raw
    # events) five times over. MEMORY_AND_DISK spills cleanly when the
    # graph outgrows memory.
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"),
        w.alias("__w")).persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .distinct()
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n = nodes.count()  # node count: the one bounded driver scalar
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    outw = e.groupBy("__src").agg(sorted_sum("__w").alias("__wout"))
    # the edges⋈out-weights join is iteration-invariant: materialize
    # it ONCE (round-15; guide §2.4) instead of re-joining every
    # iteration — per iteration only the node-sized rank frame is
    # exchanged against the cached, already-__src-partitioned edge
    # frame. Joining first is exact (no arithmetic), so the per-edge
    # contribution expression is unchanged.
    eo = e.join(outw, "__src").persist(StorageLevel.MEMORY_AND_DISK)
    base = (1.0 - damping) / n

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = _rank_contrib(eo, ranks)
        # total rank is 1 by construction and every out-connected node
        # distributes its whole rank (Σ_j w_j/wout = 1), so the
        # dangling mass is 1 − Σ contributions — a one-row aggregate
        # over contrib instead of an anti-join + rank rescan per
        # iteration.
        return (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(_dangling(contrib)))
            .select(
                "node",
                (F.lit(base)
                 + F.lit(damping)
                 * (F.coalesce(F.col("__contrib"), F.lit(0.0))
                    + F.col("__dangling") / F.lit(float(n))))
                .alias("rank"),
            )
        )

    # The result stays LAZY; the persisted graph frames back its
    # lineage (same contract as dedup.near_dup_pairs' shingle cache):
    # MEMORY_AND_DISK blocks are LRU-evictable, and an eager
    # checkpoint-then-unpersist tail was measured ~1.5x slower per
    # call than letting the caller's one action drive everything.
    return iterate(nodes.withColumn("rank", F.lit(1.0 / n)), step,
                   iterations)


def _rank_contrib(eo: DataFrame, ranks: DataFrame) -> DataFrame:
    """One PageRank round's per-node inflow ``(node, __contrib)`` over
    the edges⋈out-weights frame: rank · w / out-weight per edge, an
    exact (order-independent) sum per destination."""
    return (
        eo.join(ranks, eo["__src"] == ranks["node"])
        .select(F.col("__dst").alias("node"),
                (F.col("rank") * F.col("__w") / F.col("__wout"))
                .alias("__c"))
        .groupBy("node").agg(exact_sum("__c").alias("__contrib"))
    )


def _dangling(contrib: DataFrame) -> DataFrame:
    """The one-row dangling mass ``1 − Σ __contrib`` of a round."""
    return contrib.agg(
        (F.lit(1.0) - F.coalesce(exact_sum("__contrib"), F.lit(0.0)))
        .alias("__dangling"))


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    node: str = "node",
) -> DataFrame:
    """PERSONALIZED PageRank (random walk with restart): like
    :func:`pagerank` but every teleport — the (1−d) restart AND the
    dangling-mass fold — returns to the SEED SET uniformly instead of
    to all nodes, so ``rank`` measures proximity to the seeds along
    the link structure. The standard seed-expansion primitive:
    "score every page by closeness to my trusted domains", "rank
    event types by reachability from purchase", local community
    scoring around a query node.

    Same execution contract as :func:`pagerank` — per iteration one
    edges⋈ranks join + map-side-combined aggregate on ``dst``,
    dangling mass as a broadcast one-row frame, fixed ``iterations``
    (deterministic, unrolled-SQL-replayable), exact decimal per-node
    and dangling sums and sorted out-weight sums (ranks bit-identical
    under any partitioning of ``edges`` and ``sources``), the rank
    frame checkpointed after every iteration but the last by
    :func:`lindel_spark.util.iterate` (eager jobs while building: the
    seed count and ``iterations − 1`` checkpoints). Node set = edge
    endpoints ∪ seeds (an isolated seed still holds restart mass);
    total rank stays 1 by construction. The one extra state over the
    uniform case is the teleport column riding the node frame — no
    extra shuffle.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark import StorageLevel

    w = (F.col(weight).cast("double") if weight is not None
         else F.lit(1.0))
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"),
        w.alias("__w")).persist(StorageLevel.MEMORY_AND_DISK)
    seeds = sources.select(F.col(node).alias("node")).distinct() \
        .persist(StorageLevel.MEMORY_AND_DISK)
    ns = seeds.count()  # bounded driver scalar (the pagerank contract)
    if ns == 0:
        raise ValueError("LINDEL: personalized_pagerank needs a "
                         "non-empty seed set")
    nodes = (
        e.select(F.col("__src").alias("node"))
        .unionByName(e.select(F.col("__dst").alias("node")))
        .unionByName(seeds.select("node"))
        .distinct()
    )
    tel = (nodes.join(seeds.withColumn("__is_seed", F.lit(1)),
                      "node", "left")
           .select("node",
                   F.when(F.col("__is_seed").isNotNull(),
                          F.lit(1.0 / ns)).otherwise(F.lit(0.0))
                   .alias("__t"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    outw = e.groupBy("__src").agg(sorted_sum("__w").alias("__wout"))
    # iteration-invariant edges⋈out-weights hoisted out of the loop
    # (round-15; guide §2.4 — see pagerank above)
    eo = e.join(outw, "__src").persist(StorageLevel.MEMORY_AND_DISK)

    def step(ranks: DataFrame, _r: int) -> DataFrame:
        contrib = _rank_contrib(eo, ranks)
        return (
            tel.join(contrib, "node", "left")
            .crossJoin(F.broadcast(_dangling(contrib)))
            .select(
                "node",
                (F.lit(1.0 - damping) * F.col("__t")
                 + F.lit(damping)
                 * (F.coalesce(F.col("__contrib"), F.lit(0.0))
                    + F.col("__dangling") * F.col("__t")))
                .alias("rank"),
            )
        )

    return iterate(tel.select("node", F.col("__t").alias("rank")), step,
                   iterations)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 15,
) -> DataFrame:
    """Connected components of an undirected graph: ``(node,
    component)`` with ``component`` = the minimum node id reachable.

    Alternating large-star/small-star (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond"; round 11) —
    converges in O(log n) rounds REGARDLESS of graph diameter, so the
    long-chain clusters fuzzy/sorted-neighborhood dedup can produce
    cost ~10 rounds at a billion nodes instead of ~diameter. Each
    round is two (group-by-min + join) stages over the edge set; no
    driver-side graph, no collect_list adjacency (a hub node never
    materializes its neighborhood in one task). The rounds stop at
    the fixed point (see :func:`_cc_star`) or after ``max_iter``.

    ``nodes`` (one ``node`` column) adds isolated vertices as
    singleton components; node ids must be numeric (convergence
    checksums aggregate them). The same engine behind
    ``dedup.dup_clusters``, exposed for arbitrary graphs.
    """
    labels, _rounds = _cc_star(edges, src, dst, nodes, max_iter)
    return labels


def _edge_checksum(e: DataFrame) -> tuple:
    """Order-independent fingerprint of an edge set: (count, sum of
    per-edge xxhash64) — one aggregate, no sort, no collect of edges.
    Equal checksums across rounds = the star iteration reached its
    fixpoint (hash-sum collision on inequal sets is ~2^-64)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0) sum: exact and overflow-proof under ANSI mode
        # (a long sum of 64-bit hashes overflows after ~2 edges)
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _cc_star(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame | None,
    max_iter: int,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star CC; returns (labels, rounds).

    Per round (one round = large-star then small-star over the whole
    edge set; Kiveris et al. 2014 §3):

    - large-star(u): every neighbor v > u links to
      m(u) = min(N(u) ∪ {u}) — expressed as a group-by-min on the
      symmetric edge list joined back to the v > u half.
    - small-star(u): over edges directed to the smaller endpoint,
      every v in N_≤(u) ∪ {u} except the min links to the min.

    Both are (aggregate + equi-join) stages keyed on the node id —
    a hub's neighborhood is never collected into one row, so skew
    degrades into AQE-splittable join tasks, not a straggler task
    building a giant array. At the fixpoint the edge set is a star
    forest (member, root) with root = component min.

    The rounds run through :func:`lindel_spark.util.iterate`; its
    ``until`` is the fixed-point exit: an :func:`_edge_checksum` of
    each checkpointed edge set (one eager scalar job per round) equal
    to the previous round's, or an empty edge set (all singletons).
    """
    e0 = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")) \
        .filter(F.col("u") != F.col("v"))
    if nodes is None:
        nodes = (
            e0.select(F.col("u").alias("node"))
            .unionByName(e0.select(F.col("v").alias("node")))
            .distinct()
        )
    prev, rounds = None, 0

    def fixpoint(cur: DataFrame) -> bool:
        nonlocal prev
        chk = _edge_checksum(cur)
        done = chk[0] == 0 or chk == prev
        prev = chk
        return done

    def star_round(cur: DataFrame, r: int) -> DataFrame:
        nonlocal rounds
        rounds = r
        # large-star. One repartition("u") serves BOTH the per-u min
        # aggregate and the join back (round-15; guide §2.4 — shared
        # exchange: hash(u) satisfies the aggregate's and the join's
        # clustering), and the keyed repartition+dropDuplicates dedup
        # keeps the output u-partitioned for the small-star pass.
        # Exact integer algebra throughout — identical multisets.
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition("u")
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition("u").dropDuplicates()
        )
        # small-star over the large-star output. Every large row has
        # v < u by construction (its v is m = min(N(x) ∪ {x}) ≤ x < its
        # u), so the symmetrize-and-keep-smaller step is the IDENTITY
        # on large — the old union+filter re-derived the whole
        # large-star subtree a second time just to filter it all out.
        d2 = large
        mins2 = d2.groupBy("u").agg(F.min("v").alias("m"))
        return (
            d2.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(
                F.col("u"), F.col("m").alias("v")))
            .repartition("u").dropDuplicates()
        )

    cur = iterate(e0.distinct().localCheckpoint(), star_round, max_iter,
                  until=fixpoint)
    # fixpoint: cur is (member, root), root < member; roots (and
    # isolated nodes) label themselves
    comp = cur.groupBy("u").agg(F.min("v").alias("__c"))
    labels = (
        nodes.join(comp, nodes["node"] == comp["u"], "left")
        .select(
            "node",
            F.coalesce(F.col("__c"), F.col("node")).alias("component"),
        )
    )
    return labels, rounds


def _canonical_edges(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Undirected edge set canonicalized to ``(a, b)`` with
    ``a < b`` by node id — self-loops and duplicates dropped."""
    return (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("a"),
                    F.greatest("u", "v").alias("b"))
            .distinct())


def _degree_oriented(e: DataFrame) -> DataFrame:
    """Orient each canonical edge from its lower-``(degree, id)``
    endpoint: returns ``(s, d, dd)`` where ``dd = deg(d)`` (kept so
    wedge enumeration can order the two out-neighbors without a
    second degree join). One degree aggregate + two broadcast-or-hash
    joins; every out-degree is bounded by O(√m), which is the whole
    point of the orientation."""
    # endpoint multiset via ONE explode — the union-of-two-selects
    # form re-evaluated the caller's edge subtree per branch (round 16)
    deg = (e.select(F.explode(F.array("a", "b")).alias("n"))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    ranked = (e.join(deg.select(F.col("n").alias("a"),
                                F.col("deg").alias("da")), "a")
              .join(deg.select(F.col("n").alias("b"),
                               F.col("deg").alias("db")), "b"))
    a_first = F.struct(F.col("da"), F.col("a")) < \
        F.struct(F.col("db"), F.col("b"))
    return ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("d"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dd"),
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-node triangle counts of an undirected graph:
    ``(node, triangles)`` for every node in at least one triangle.

    Degree-ordered edge-iterator (the skew-safe formulation; cf.
    Suri & Vassilvitskii 2011, "Counting triangles and the curse of
    the last reducer"): edges canonicalize to ``a < b`` (self-loops
    and duplicates dropped), then each edge is ORIENTED from its
    lower-``(degree, id)`` endpoint toward the higher one, so every
    out-degree is O(√m) no matter how skewed the raw degree
    distribution is — the per-node out-neighbor array is therefore
    bounded even at a billion-edge scale, which is what makes the
    adjacency form safe. Per oriented edge ``u→v`` the triangles it
    anchors are ``N+(u) ∩ N+(v)`` (every common ``c`` has
    rank(c) > rank(v) > rank(u), so each triangle is found exactly
    once, at its lowest-rank edge); corner credits go to ``u``/``v``
    (|∩| each) and each ``c`` (+1). Two hash joins of the m-row
    edge list against the node-keyed adjacency table — the O(m^1.5)
    wedge volume never materializes as shuffle ROWS, only as
    map-side array intersections, which is why this beats the
    id-ordered middle-node wedge join (deg² rows per hub) by a
    large constant as well as asymptotically under skew. Node ids
    must be orderable; counts are exact integers, so the whole
    operator stays value-level SQL-replayable.
    """
    e = _canonical_edges(edges, src, dst)
    # adjacency is materialized once (localCheckpoint) and the
    # oriented edge list is REGENERATED from it by explode — exploding
    # adj yields exactly the (s, d) multiset it was built from, with
    # nb_s already attached, so the edges⋈adj-on-s join (and its
    # exchange of the edge list by s) disappears; one d-keyed join
    # remains (round-15 optimization; guide §2.4)
    adj = (_degree_oriented(e).select("s", "d")
           .groupBy("s").agg(F.collect_list("d").alias("nb"))
           .localCheckpoint())
    t = (adj.select("s", F.col("nb").alias("nb_s"),
                    F.explode("nb").alias("d"))
         .join(adj.select(F.col("s").alias("d"),
                          F.col("nb").alias("nb_d")), "d")
         .select("s", "d",
                 F.array_intersect("nb_s", "nb_d").alias("common"))
         .filter(F.size("common") > 0))
    # ALL three corner credits of a wedge ride ONE explode of a
    # per-wedge credit array (round 16): the previous
    # union-of-three-selects re-planned the wedge subtree — and its
    # per-row array_intersect, the stage's CPU cost — once per union
    # branch (unions never share non-exchange subtrees). Same exact
    # integer multiset of (node, n) credits, one evaluation
    # (measured 1.80 s → 0.99 s on the sf0.1 co-purchase graph).
    sz = F.size("common").cast("long")
    cred = F.concat(
        F.array(F.struct(F.col("s").alias("node"), sz.alias("n")),
                F.struct(F.col("d").alias("node"), sz.alias("n"))),
        F.transform("common",
                    lambda c: F.struct(c.alias("node"),
                                       F.lit(1).cast("long").alias("n"))))
    corners = t.select(F.explode(cred).alias("p"))
    return corners.groupBy(F.col("p.node").alias("node")).agg(
        F.sum("p.n").cast("long").alias("triangles"))


def _triangle_count_idordered(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Round-11 id-ordered middle-node formulation, kept as the
    bit-identity test reference for :func:`triangle_count` (same
    exact counts, deg²-per-hub wedge volume — see the r11 verdict's
    'What's wrong' #1 for why it was replaced as the default)."""
    e = _canonical_edges(edges, src, dst)
    w = (e.alias("e1")
         .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
         .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                 F.col("e2.b").alias("z")))
    tri = w.join(
        e.select(F.col("a").alias("x"), F.col("b").alias("z")),
        ["x", "z"])
    corners = (tri.select(F.col("x").alias("node"))
               .unionAll(tri.select(F.col("y").alias("node")))
               .unionAll(tri.select(F.col("z").alias("node"))))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("triangles"))


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Multi-source breadth-first hop distances, bounded at
    ``max_hops``: returns ``(node, dist)`` — the minimum hop count
    from ANY source — for every node reachable within the bound
    (unreached nodes are absent). The neighborhood-expansion
    primitive behind "within two links of a seed domain" quality
    propagation and blast-radius queries.

    Per hop: the frontier (nodes first reached last hop) equi-joins
    the edge list and the union re-aggregates to the per-node minimum
    — one join + one map-side-combined min per hop, keyed on node
    ids, no driver-side frontier and no per-hop action (hop count is
    fixed rather than convergence-tested, same determinism contract
    as :func:`pagerank`, so an unrolled / bounded-recursion SQL
    oracle replays it). Settled nodes never re-expand: a node's
    first-reach hop is its minimum, so the ``dist == h-1`` frontier
    filter touches each node once across the whole run. The hops run
    through :func:`lindel_spark.util.iterate` with the hop state
    persisted and checkpointed every 4th hop: ``dist`` feeds both the
    next hop's frontier filter and its union arm, and reading it from
    the persisted state keeps the hop subtree from recomputing 2^h
    times.
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"),
                         F.col(src).alias("__d")))
    e = e.distinct().persist(StorageLevel.MEMORY_AND_DISK)

    def hop(dist: DataFrame, h: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == h - 1) \
            .select(F.col("node").alias("__s"))
        reached = (frontier.join(e, "__s")
                   .select(F.col("__d").alias("node"),
                           F.lit(h).alias("dist")))
        return (dist.unionByName(reached)
                .groupBy("node").agg(F.min("dist").alias("dist")))

    # every=4: bench.py bfs_hops_2 (sf0.1, 4 cores) ran 1.30 s with a
    # checkpoint after every hop against 0.19 s persisted
    dist = iterate(sources.select(F.col(node).alias("node")).distinct()
                   .withColumn("dist", F.lit(0)), hop, max_hops, every=4)
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def sssp_distances(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Multi-source WEIGHTED single-source-shortest-path distances,
    bounded at ``rounds`` relaxation rounds (synchronous Bellman–Ford
    with frontier pruning — the delta-stepping-shaped bulk form):
    returns ``(node, dist)`` — the minimum total edge weight over any
    path of at most ``rounds`` edges from ANY source — for every node
    reachable within the bound (unreached nodes absent). The weighted
    companion to :func:`bfs_distances` (which this equals when every
    weight is 1): latency graphs, cost networks, similarity graphs
    where "two strong links" beat "one weak link".

    Fixed ``rounds`` instead of convergence keeps the run
    deterministic and SQL-replayable (the :func:`pagerank` contract —
    an unrolled per-round MIN-relax oracle replays it value-exactly);
    with non-negative weights and ``rounds ≥ |V| − 1`` the bound is
    vacuous and the result is the true shortest-path distance.
    Parallel edges collapse to their MINIMUM weight up front (the
    only one a shortest path can use).

    Plan per round: only the FRONTIER (nodes whose distance improved
    last round) expands — one edge equi-join + one map-side-combined
    per-node MIN over candidates + one keyed full-outer merge with
    the running distances; no driver-side frontier, no per-round
    action. Frontier-only relaxation is exact: a node whose distance
    did not change contributed its out-relaxations the round it last
    improved, and the running MIN keeps them. Settled-but-improvable
    nodes re-enter the frontier automatically (unlike BFS a node can
    improve after first reach). The rounds run through
    :func:`lindel_spark.util.iterate` over a ``(node, dist, __imp)``
    state, persisted and checkpointed every 4th round, so the
    frontier and the running distances both read the previous
    round's state instead of recomputing it.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"),
                     F.col(weight).cast("double").alias("__w"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"),
                         F.col(src).alias("__d"),
                         F.col(weight).cast("double").alias("__w")))
    e = (e.groupBy("__s", "__d").agg(F.min("__w").alias("__w"))
         .persist(StorageLevel.MEMORY_AND_DISK))

    def relax(nd: DataFrame, _r: int) -> DataFrame:
        cand = (nd.filter(F.col("__imp"))
                .select(F.col("node").alias("__s"), "dist")
                .join(e, "__s")
                .groupBy(F.col("__d").alias("node"))
                .agg(F.min(F.col("dist") + F.col("__w")).alias("__cand")))
        merged = nd.select("node", "dist").join(cand, "node", "full_outer")
        improved = (F.col("dist").isNull()
                    | (F.col("__cand") < F.col("dist")))
        # least() skips NULLs, so it is exactly "min of the present"
        return merged.select(
            "node", F.least("dist", "__cand").alias("dist"),
            improved.alias("__imp"))

    # every source starts as frontier at distance 0; every=4:
    # bench.py sssp_copurchase (sf0.1, 4 cores) ran 1.90 s with a
    # checkpoint after every round against 0.41 s persisted
    nd = iterate(sources.select(F.col(node).alias("node")).distinct()
                 .select("node", F.lit(0.0).alias("dist"),
                         F.lit(True).alias("__imp")), relax, rounds,
                 every=4)
    return nd.select("node", "dist")


def label_propagation_communities(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts as its own label; each round every
    node adopts its neighbors' MOST FREQUENT label (ties → smallest
    label, so the algorithm — normally run with random tie-breaks —
    is fully deterministic and SQL-replayable). Returns ``(node,
    label)``; nodes sharing a label after ``rounds`` rounds are one
    community. The modularity-flavored complement to
    :func:`connected_components` (CC says "reachable at all", LPA
    says "densely attached"), built for the same dedup/co-occurrence
    graphs.

    Edges are treated as UNDIRECTED (symmetrized internally; pass
    each pair once). Per round: one edge⋈labels hash join + one
    map-side-combined count on ``(node, label)`` + an aggregate-only
    argmax (``max(struct(cnt, −label))`` — no window, so a hub's
    neighborhood never funnels through one task). Isolated nodes
    never appear in an edge list; fixed ``rounds`` keeps it
    replayable (the pagerank contract), and
    :func:`lindel_spark.util.iterate` checkpoints the label frame
    after every round but the last.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark import StorageLevel

    e = edges.select(F.col(src).cast("long").alias("__s"),
                     F.col(dst).cast("long").alias("__d"))
    sym = (e.unionByName(e.select(F.col("__d").alias("__s"),
                                  F.col("__s").alias("__d")))
           .filter(F.col("__s") != F.col("__d"))
           .distinct()
           .persist(StorageLevel.MEMORY_AND_DISK))
    # nodes feeds the lineage exactly once (initial labels) and is a
    # cheap distinct over the persisted edges — no persist of its own
    nodes = sym.select(F.col("__s").alias("node")).distinct()

    def step(labels: DataFrame, _r: int) -> DataFrame:
        votes = (sym.join(labels,
                          sym["__d"] == labels["node"])
                 .groupBy(F.col("__s").alias("node"), "label")
                 .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))
        return (votes.groupBy("node")
                .agg(F.max(F.struct(
                    F.col("__cnt"),
                    (-F.col("label")).alias("__neg"))).alias("__b"))
                .select("node", (-F.col("__b.__neg")).alias("label")))

    return iterate(nodes.withColumn("label", F.col("node")), step, rounds)


def degree_profile(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree-distribution histogram of the undirected graph:
    ``(degree, n_nodes, wedges)`` — how many nodes carry each degree
    and the middle-node wedge volume ``n_nodes · deg·(deg−1)/2`` that
    degree class would contribute to a wedge join. The pre-flight
    audit for :func:`triangle_count` / :func:`connected_components` /
    :func:`label_propagation_communities` costs (pairs with the IVF
    balance audit, ``similarity.ivf_health``): a heavy tail here is
    the signal that degree-ordered plans and AQE skew handling are
    load-bearing, BEFORE the 16-second join teaches it the hard way.
    Two keyed aggregates; exact integers, SQL-replayable."""
    e = _canonical_edges(edges, src, dst)
    deg = (e.select(F.col("a").alias("node"))
           .unionAll(e.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .select(
                F.col("degree").cast("long").alias("degree"),
                "n_nodes",
                (F.col("n_nodes") * F.col("degree")
                 * (F.col("degree") - 1) / F.lit(2)).cast("long")
                .alias("wedges")))


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Nodes surviving ``rounds`` synchronous peels of the ``k``-core
    reduction: each round drops every node whose degree among STILL-
    ALIVE nodes is below ``k``, cascading removals one round at a
    time (Batagelj–Zaveršnik peeling, the distributed formulation).
    Returns ``(node, degree)`` — the within-subgraph degree after the
    last round. With ``rounds`` at least the longest peel cascade the
    result IS the exact k-core; the count is fixed rather than
    convergence-tested so a bounded-round unrolled SQL oracle replays
    it value-for-value (the :func:`pagerank` determinism contract —
    same trade as :func:`bfs_distances`).

    Per round: two alive-set semi-joins on the symmetrized edge list
    + one map-side-combined degree count — all keyed on node ids, no
    driver-side state. The first peel is the initial degree filter;
    the other ``rounds − 1`` run through
    :func:`lindel_spark.util.iterate`, which checkpoints the
    node-sized alive set after each but the last: the alive set is
    referenced TWICE per round (both semi-join sides), so an
    uncheckpointed tail would re-plan — and re-compute — the prior
    round's subtree 2^r times (the bfs_distances lesson).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _canonical_edges(edges, src, dst)
    # symmetrize by exploding a two-struct array instead of a union
    # of two selects: union branches re-evaluate the caller's whole
    # edge-derivation subtree once each (round 16; same multiset)
    adj = e.select(F.explode(F.array(
        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
        F.struct(F.col("b").alias("u"), F.col("a").alias("v"))))
        .alias("p")).select("p.u", "p.v")
    # pin the symmetrized edge list's partitioning to the node id at
    # the one-time materialization: every round's u-side semi-join
    # AND degree groupBy then reuse it instead of re-exchanging the
    # edge list (round-15; guide §2.4 — checkpointed datasets keep
    # their outputPartitioning)
    adj = adj.repartition("u").localCheckpoint()
    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))

    def peel(alive: DataFrame, _r: int) -> DataFrame:
        au = alive.select("u")
        # v-side join first, u-side join LAST: the groupBy("u")
        # right after reuses the u join's partitioning, saving one
        # exchange of the edge list per round (inner joins commute —
        # the kept multiset is identical)
        kept = (adj.join(au.select(F.col("u").alias("v")), "v")
                .join(au, "u"))
        return (kept.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
                .filter(F.col("degree") >= k))

    alive = iterate(deg.filter(F.col("degree") >= k).select("u", "degree"),
                    peel, rounds - 1)
    return alive.select(F.col("u").alias("node"),
                        F.col("degree").cast("long").alias("degree"))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    label: str = "label",
) -> DataFrame:
    """Newman modularity of a community assignment over an undirected
    graph: ``Q = Σ_c [ m_c/m − (d_c / 2m)² ]`` where ``m`` is the
    edge count, ``m_c`` the edges with BOTH endpoints in community
    ``c`` and ``d_c`` the sum of member degrees (Newman & Girvan
    2004) — the standard "did the clustering find real structure"
    score for :func:`label_propagation_communities` /
    :func:`connected_components` output (Q ≈ 0: no better than
    random; Q ≳ 0.3: meaningful structure). Returns one row per
    community ``(label, n_nodes, m_in, d_c, q_c)`` plus the graph
    constants, so both the per-community contributions and the global
    Q = Σ q_c replay as exact-count algebra ÷ two global scalars.

    Plan: canonical edge set → two label joins (community lookup is
    node-keyed) → one count aggregate for ``m_c``, one degree-sum
    aggregate for ``d_c`` — nothing beyond the CC/LPA plan family;
    the two graph constants ride a broadcast one-row frame, never a
    driver action.
    """
    e = _canonical_edges(edges, src, dst)
    lab = communities.select(F.col(node).alias("__n"),
                             F.col(label).alias("__l"))
    both = (e.join(lab.select(F.col("__n").alias("a"),
                              F.col("__l").alias("la")), "a")
            .join(lab.select(F.col("__n").alias("b"),
                             F.col("__l").alias("lb")), "b"))
    m_in = (both.filter(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("label"))
            .agg(F.count(F.lit(1)).cast("long").alias("m_in")))
    deg = (e.select(F.col("a").alias("__n"))
           .unionAll(e.select(F.col("b").alias("__n")))
           .groupBy("__n").agg(F.count(F.lit(1)).alias("__d")))
    dc = (lab.join(deg, "__n", "left")
          .groupBy(F.col("__l").alias("label"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
               F.sum(F.coalesce(F.col("__d"), F.lit(0)))
               .cast("long").alias("d_c")))
    consts = e.agg(F.count(F.lit(1)).cast("double").alias("__m"))
    out = (dc.join(m_in, "label", "left")
           .withColumn("m_in",
                       F.coalesce(F.col("m_in"), F.lit(0)).cast("long"))
           .crossJoin(F.broadcast(consts)))
    q_c = (F.col("m_in").cast("double") / F.col("__m")
           - F.pow(F.col("d_c").cast("double")
                   / (F.lit(2.0) * F.col("__m")), F.lit(2.0)))
    return out.select("label", "n_nodes", "m_in", "d_c",
                      q_c.alias("q_c"))


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_middle_degree: int | None = None,
) -> DataFrame:
    """Neighborhood link prediction over an undirected graph: for
    every NON-adjacent pair ``(src, dst)`` sharing at least one
    neighbor, returns the three classic scores ``(common_neighbors,
    jaccard, adamic_adar)`` (Liben-Nowell & Kleinberg 2003):
    ``CN = |Γ(u)∩Γ(v)|``, ``J = CN / |Γ(u)∪Γ(v)|``, ``AA = Σ_{z ∈
    Γ(u)∩Γ(v)} 1/ln(deg z)`` — AA's hub down-weighting is the reason
    it wins on co-occurrence graphs. Exact count algebra plus two
    ``ln`` calls, so the frame replays value-level in any engine.

    Plan: wedge enumeration at the shared middle ``z`` (adjacency
    self-join keyed on ``z``, pair ordered ``u < v``), one
    map-side-combined aggregate per pair, degree dimension joined
    twice, existing edges removed with a left-anti join. Candidate
    volume is inherently ``Σ_z deg(z)²`` — the METRIC enumerates
    every 2-path, unlike triangle counting there is no closing edge
    to orient away — so run :func:`degree_profile` first and cap
    hubs with ``max_middle_degree`` (standard practice: a 10⁶-degree
    hub contributes no signal at 1/ln(10⁶) each but 10¹² candidate
    pairs); excluded middles are EXCLUDED FROM THE SCORES, matching
    the capped oracle, and the cap is a documented semantic knob,
    not an approximation toggle. Under a cap, ``jaccard`` divides
    the CAPPED common-neighbor count by the UNCAPPED full degrees
    ``du + dv − cn`` (the denominator stays the true neighborhood
    union — hubs still count as neighbors even when skipped as
    middles), so it is a LOWER BOUND on the uncapped Jaccard, not
    the Jaccard of the capped adjacency (ADVICE r12 — both the
    Spark plan and the oracle compute exactly this).
    """
    from pyspark import StorageLevel

    # the canonical edge set (often a self-join + distinct at the
    # caller) feeds FIVE consumers (two wedge sides, the anti-join,
    # two degree lookups): persist it and the adjacency-with-degree
    # frame once instead of recompiling the derivation per consumer
    # (measured 21 s -> ~7 s on the sf0.1 co-purchase graph)
    e = _canonical_edges(edges, src, dst) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    adj = (e.select(F.col("a").alias("z"), F.col("b").alias("n"))
           .unionAll(e.select(F.col("b").alias("z"),
                              F.col("a").alias("n"))))
    deg = adj.groupBy("z").agg(
        F.count(F.lit(1)).cast("long").alias("deg")) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    mid = adj.join(deg, "z")
    if max_middle_degree is not None:
        mid = mid.filter(F.col("deg") <= F.lit(int(max_middle_degree)))
    mid = mid.persist(StorageLevel.MEMORY_AND_DISK)
    left = mid.select("z", F.col("n").alias("u"),
                      F.col("deg").alias("degz"))
    right = mid.select("z", F.col("n").alias("v"))
    wedges = (left.join(right, "z")
              .filter(F.col("u") < F.col("v")))
    scores = (wedges.groupBy("u", "v")
              .agg(F.count(F.lit(1)).cast("long").alias("cn"),
                   F.sum(F.lit(1.0)
                         / F.log(F.col("degz").cast("double")))
                   .alias("adamic_adar")))
    cand = scores.join(
        e, (scores["u"] == e["a"]) & (scores["v"] == e["b"]),
        "left_anti")
    du = deg.select(F.col("z").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("z").alias("v"), F.col("deg").alias("dv"))
    out = (cand.join(du, "u").join(dv, "v")
           .select(F.col("u").alias(src), F.col("v").alias(dst),
                   "cn",
                   (F.col("cn").cast("double")
                    / (F.col("du") + F.col("dv") - F.col("cn"))
                    .cast("double")).alias("jaccard"),
                   "adamic_adar"))
    return out


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities over a DIRECTED edge list (Kleinberg
    1999): returns ``(node, hub, authority)``. Per iteration the
    authority of ``v`` is the sum of hub scores over in-edges and the
    hub of ``u`` the sum of authorities over out-edges, each vector
    L1-normalized (sum = 1) — L1 instead of the textbook L2 so the
    normalizer is a plain SUM and the whole loop replays as an
    unrolled SQL oracle exactly, same fixed-round determinism
    contract as :func:`pagerank`: every sum is order-independent, so
    rows are bit-identical under any partitioning of ``edges``. The
    first authority pass sums the uniform initial hub of 1 as exact
    integer in-degree counts; every later sum is an
    :func:`lindel_spark.util.exact_sum` (decimal, so a node's in- or
    out-degree, duplicates counted, must stay below 1e8).

    Plan per iteration: one join + map-side-combined aggregate per
    direction, the normalizer a broadcast one-row frame. HITS
    normalizes TWICE per round and each normalizer references the
    full upstream plan — left lazy the plan QUADRUPLES per iteration
    (4 rounds ≈ 256 replays of the caller's edge derivation; measured
    OOM on the transition-graph fixture) — so each direction is one
    :func:`lindel_spark.util.iterate` round (``2 · iterations``
    half-rounds) over one NODE-sized ``(node, hub, authority)``
    frame, checkpointed after every half-round but the last: the
    materialization is |V| rows, never the edge list. Self-loops and
    duplicate edges are kept (they are signal in HITS); isolated
    directions yield 0 scores.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    from pyspark import StorageLevel

    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    nodes = (e.select(F.col("u").alias("node"))
             .unionByName(e.select(F.col("v").alias("node")))
             .distinct().persist(StorageLevel.MEMORY_AND_DISK))

    def half_round(s: DataFrame, r: int) -> DataFrame:
        # odd half-rounds score authorities from hubs along in-edges,
        # even ones hubs from authorities along out-edges
        by, to, key, other = (("hub", "authority", "u", "v") if r % 2
                              else ("authority", "hub", "v", "u"))
        # the initial hub is the integer 1: its sums are exact counts
        total = F.sum if dict(s.dtypes)[by] == "int" else exact_sum
        raw = (e.join(s, e[key] == s["node"])
               .groupBy(F.col(other).alias("node"))
               .agg(total(by).alias("__s")))
        return (s.drop(to).join(raw, "node", "left")
                .crossJoin(F.broadcast(raw.agg(total("__s").alias("__t"))))
                .select("node", by, (F.coalesce("__s", F.lit(0))
                                     / F.col("__t")).alias(to)))

    return iterate(nodes.withColumn("hub", F.lit(1)), half_round,
                   2 * iterations).select("node", "hub", "authority")


def betweenness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes 2001, the
    bounded/deterministic bulk form): returns ``(node, betweenness)``
    = the summed shortest-path dependency ``Σ_{s∈sources} δ_s(node)``
    over paths of at most ``max_depth`` hops — "which nodes broker
    the graph", the shortest-path-centrality leg the reachability
    (:func:`bfs_distances` / :func:`sssp_distances`) and importance
    (:func:`pagerank`) tiers don't answer. Every node REACHED from a
    sampled source appears (non-intermediaries with betweenness 0.0);
    a source never accumulates dependency from its own BFS. With
    ``sources`` = all nodes and ``max_depth ≥ diameter`` this is
    exact Brandes betweenness (undirected graphs counted once per
    ordered source, so halve if you want the unordered convention);
    with a deterministic sample it is the standard
    scale-by-``n/|S|`` estimator, kept raw here so the number is
    reproducible rather than population-scaled.

    The sample IS the scale contract: state is keyed ``(source,
    node)``, so memory is |S| × (bounded-depth reach), never |V|².
    Fixed ``max_depth`` keeps the run deterministic and
    SQL-replayable (the :func:`pagerank` contract — an unrolled
    forward/backward CTE replay is value-exact).

    Plan — forward pass, one :func:`lindel_spark.util.iterate` round
    per hop (state persisted, checkpointed every 4th hop):
    frontier ⋈ edges, then a map-side-combined ``SUM(sigma)`` per
    ``(s, node)`` (σ = number of shortest s-paths; all of them arrive
    the hop the node is first reached, so one LEFT-ANTI against the
    settled set is the whole BFS-DAG bookkeeping). Backward pass, one
    round per level ℓ = ``max_depth`` … 1: level-ℓ nodes ⋈ edges ⋈
    level-(ℓ−1) nodes — all keyed equi-joins — accumulating Brandes'
    dependency ``δ(v) += σ_v/σ_w · (1 + δ_w)``. The per-(s, v) sum over
    successors w and the final per-node sum over s fold in
    NEIGHBOR/SOURCE ORDER on both engines (``sort_array`` fold ↔
    ``SUM(… ORDER BY …)`` — the kruskal_wallis lesson: double
    addition order shifts the 6th decimal at sf1 magnitudes). σ rides
    as BIGINT (exact: path counts at curation-query depths 2-4 stay
    far under 2⁶³; the count is a sum of predecessor counts, never a
    product blow-up per round).
    """
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"),
                         F.col(src).alias("__d")))
    e = (e.filter(F.col("__s") != F.col("__d")).distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))

    # forward: bs = (s, node, dist, sigma), first-reach rows only
    def hop(bs: DataFrame, h: int) -> DataFrame:
        frontier = bs.filter(F.col("dist") == h - 1)
        cand = (frontier
                .join(e, frontier["node"] == e["__s"])
                .groupBy("s", F.col("__d").alias("node"))
                .agg(F.sum("sigma").alias("sigma"))
                .withColumn("dist", F.lit(h)))
        return bs.unionByName(
            cand.join(bs.select("s", "node"), ["s", "node"], "left_anti")
            .select("s", "node", "dist", "sigma"))

    # every=4 persists each hop's state, the last one included (the
    # backward pass reads every level and the stitch reads them all
    # again): bench.py betweenness_copurchase (sf0.1, 4 cores) ran
    # 9.27 s with a checkpoint after every hop against 1.31 s
    bs = iterate(sources.select(F.col(node).alias("s")).distinct()
                 .select("s", F.col("s").alias("node"),
                         F.lit(0).alias("dist"),
                         F.lit(1).cast("long").alias("sigma")),
                 hop, max_depth, every=4)
    levels = [bs.filter(F.col("dist") == h) for h in range(max_depth + 1)]

    # backward: level-(l-1) deltas from level-l (w) successors; a
    # node's delta is written exactly once, at its own level, because
    # the BFS DAG only carries dependency from level l to l-1
    delta_by_level: dict[int, DataFrame] = {}
    zero = F.lit(0.0)
    for lvl in range(max_depth, 0, -1):
        w = levels[lvl].select(
            "s", F.col("node").alias("__w"),
            F.col("sigma").alias("__sw"))
        if lvl in delta_by_level:  # written by the lvl+1 iteration
            w = (w.join(delta_by_level[lvl]
                        .select("s", F.col("node").alias("__w"),
                                F.col("__delta").alias("__dw")),
                        ["s", "__w"], "left")
                 .withColumn("__dw", F.coalesce("__dw", zero)))
        else:
            w = w.withColumn("__dw", zero)
        v = levels[lvl - 1].select(
            "s", F.col("node").alias("__v"),
            F.col("sigma").alias("__sv"))
        contrib = (w.join(e, F.col("__w") == F.col("__d"))
                   .join(v, (F.col("__v") == F.col("__s"))
                         & (w["s"] == v["s"]))
                   .select(w["s"].alias("s"), "__v", "__w",
                           (F.col("__sv").cast("double")
                            / F.col("__sw").cast("double")
                            * (F.lit(1.0) + F.col("__dw")))
                           .alias("__c")))
        d = (contrib.groupBy("s", F.col("__v").alias("node"))
             .agg(F.aggregate(
                 F.sort_array(F.collect_list(
                     F.struct(F.col("__w").alias("w"),
                              F.col("__c").alias("c")))),
                 zero, lambda acc, x: acc + x["c"]).alias("__delta"))
             .persist(StorageLevel.MEMORY_AND_DISK))
        delta_by_level[lvl - 1] = d

    # stitch: every reached (s, node) with its delta (0 when never an
    # intermediary), drop each source's own row, fold over s in order
    deltas = None
    for d in delta_by_level.values():
        deltas = d if deltas is None else deltas.unionByName(d)
    out = bs.filter(F.col("node") != F.col("s")) \
        .select("s", "node")
    if deltas is not None:
        out = (out.join(deltas, ["s", "node"], "left")
               .withColumn("__delta", F.coalesce("__delta", zero)))
    else:  # max_depth rounds found no edges at all
        out = out.withColumn("__delta", zero)
    return (out.groupBy("node")
            .agg(F.aggregate(
                F.sort_array(F.collect_list(
                    F.struct(F.col("s").alias("s"),
                             F.col("__delta").alias("d")))),
                zero, lambda acc, x: acc + x["d"])
                .alias("betweenness")))


def harmonic_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Sampled-source HARMONIC centrality (Marchiori & Latora 2000 /
    Boldi & Vigna 2014), bounded at ``max_depth`` hops: returns
    ``(node, harmonic)`` = ``Σ_{s∈sources, s≠node} 1/d(s, node)``
    over nodes reached within the bound — the closeness-family
    "how near is this node to everything" score, in the form that
    stays well-defined on disconnected graphs (unreachable pairs
    contribute exactly 0 instead of poisoning an average). The
    natural companion to :func:`betweenness_centrality`: brokerage
    vs proximity, same sampled-source estimator contract (raw sum,
    deterministic, scale by n/|S| for the population estimate).

    Plan: the per-``(source, node)`` forward BFS of
    :func:`betweenness_centrality` without the path counting — per
    hop one frontier⋈edges equi-join + (s, node) dedup + LEFT-ANTI
    against the settled set (first reach IS the shortest distance).
    The score then collapses to per-(node, dist) COUNTS over sources
    — exact integers — and folds ``Σ_d cnt_d/d`` in ASCENDING d
    order (≤ ``max_depth`` terms, the same fixed fold the SQL oracle
    makes), so the only doubles are the final ≤ D additions.
    """
    counts = _source_bfs_counts(edges, sources, max_depth, src, dst,
                                node, directed)
    return (counts.groupBy("node")
            .agg(F.aggregate(
                F.sort_array(F.collect_list(
                    F.struct(F.col("dist").alias("d"),
                             F.col("__cnt").alias("c")))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"].cast("double")
                / x["d"].cast("double"))
                .alias("harmonic")))


def _source_bfs_counts(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    src: str,
    dst: str,
    node: str,
    directed: bool,
) -> DataFrame:
    """Shared sampled-source forward BFS: ``(node, dist, __cnt)`` =
    how many sources first reach ``node`` at exactly ``dist`` hops
    (1 ≤ dist ≤ max_depth) — the per-(source, node) frontier plumbing
    of :func:`betweenness_centrality` without the path counting,
    collapsed to exact integer counts, one
    :func:`lindel_spark.util.iterate` round per hop (state persisted,
    checkpointed every 4th hop). Backs both
    :func:`harmonic_centrality` (Σ cnt/d) and
    :func:`closeness_centrality` (Σ cnt·d)."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    from pyspark import StorageLevel

    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"),
                         F.col(src).alias("__d")))
    e = (e.filter(F.col("__s") != F.col("__d")).distinct()
         .persist(StorageLevel.MEMORY_AND_DISK))

    def hop(bs: DataFrame, h: int) -> DataFrame:
        frontier = bs.filter(F.col("dist") == h - 1)
        return bs.unionByName(
            frontier.join(e, frontier["node"] == e["__s"])
            .select("s", F.col("__d").alias("node"))
            .distinct()
            .join(bs.select("s", "node"), ["s", "node"], "left_anti")
            .withColumn("dist", F.lit(h)))

    # every=4: on bench.py's sf0.1 co-purchase graph (4 cores, warm-up
    # + median of 3) closeness at depth 3 ran 26.9 s with a checkpoint
    # after every hop against 7.9 s persisted, harmonic at depth 2
    # 9.7 s against 7.2 s
    bs = iterate(sources.select(F.col(node).alias("s")).distinct()
                 .select("s", F.col("s").alias("node"),
                         F.lit(0).alias("dist")), hop, max_depth, every=4)
    return (bs.filter(F.col("dist") > 0)
            .groupBy("node", "dist")
            .agg(F.count(F.lit(1)).cast("long").alias("__cnt")))


def closeness_centrality(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Sampled-source CLOSENESS centrality (Bavelas 1950, in the
    disconnected-safe sampled form): returns ``(node, n_sources,
    total_dist, closeness)`` per reached node, where ``n_sources`` =
    how many sampled sources reach it within ``max_depth`` hops,
    ``total_dist`` = Σ d(s, node) over exactly those sources (both
    EXACT integers), and ``closeness = n_sources / total_dist`` —
    the reciprocal of the average distance from the sources that can
    see it. Completes the centrality ladder next to
    :func:`harmonic_centrality` (which sums 1/d instead — kinder to
    far-away nodes) and :func:`betweenness_centrality`: harmonic
    rewards reaching MANY nodes a little, closeness rewards being
    uniformly NEAR the ones that reach you, and restricting the
    average to reaching sources keeps it well-defined on
    disconnected graphs (the classic 1/Σd collapses to 0 there).

    Same estimator contract as the siblings: deterministic sampled
    sources, raw (unscaled) statistic, fixed ``max_depth`` for
    SQL-replayability. Plan: the shared :func:`_source_bfs_counts`
    forward BFS (per hop one frontier⋈edges equi-join + (s, node)
    dedup + LEFT-ANTI vs settled), then per-node exact-integer sums
    — the one double is the final division.
    """
    counts = _source_bfs_counts(edges, sources, max_depth, src, dst,
                                node, directed)
    return (counts.groupBy("node")
            .agg(F.sum("__cnt").cast("long").alias("n_sources"),
                 F.sum(F.col("__cnt")
                       * F.col("dist").cast("long"))
                 .cast("long").alias("total_dist"))
            .select("node", "n_sources", "total_dist",
                    (F.col("n_sources").cast("double")
                     / F.col("total_dist").cast("double"))
                    .alias("closeness")))


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): one row
    ``(n_edges, r)`` — the Pearson correlation of the degrees at the
    two ends of every edge, over the symmetrized edge list for
    undirected graphs (each edge contributes both orientations, the
    standard convention). ``r > 0``: hubs attach to hubs (social
    shape); ``r < 0``: hubs attach to leaves (web/biology shape) —
    the one-scalar structure audit that tells a curation pipeline
    whether its similarity/co-occurrence graph is hub-dominated
    before the expensive tiers run (:func:`degree_profile` gives
    the distribution; this gives the MIXING).

    All moments are sums of exact integer degree products in
    DECIMAL(38,0) (degree ≤ |V|, product ≤ |V|², sums bounded by
    |E|·|V|² — inside 38 digits for any graph Spark can hold), so
    ``r`` is a ratio of exact integers and replays engine-exactly —
    no double-summation order anywhere. Plan: one degree aggregate,
    two node-keyed joins, one scalar. Degenerate graphs (all degrees
    equal, e.g. a cycle) have zero variance → NULL r.
    """
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("__s"),
                         F.col(src).alias("__d")))
    e = e.filter(F.col("__s") != F.col("__d")).distinct()
    # undirected (symmetrized): degree from source positions covers
    # every endpoint. Directed: the standard OUT-IN convention —
    # out-degree at the source end, in-degree at the target end —
    # computed separately so sink/source-only nodes keep their edges
    # (a single source-position degree would inner-join sinks away).
    deg_out = e.groupBy(F.col("__s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("deg"))
    if directed:
        deg_in = e.groupBy(F.col("__d").alias("node")).agg(
            F.count(F.lit(1)).cast("long").alias("deg"))
    else:
        deg_in = deg_out
    de = (e.join(deg_out.select(F.col("node").alias("__s"),
                                F.col("deg").alias("__dx")), "__s")
          .join(deg_in.select(F.col("node").alias("__d"),
                              F.col("deg").alias("__dy")), "__d"))
    x = F.col("__dx").cast("decimal(19,0)")
    y = F.col("__dy").cast("decimal(19,0)")
    agg = de.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"))
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = md * F.col("sxy").cast("double") - sx * sy
    vx = md * F.col("sxx").cast("double") - sx * sx
    vy = md * F.col("syy").cast("double") - sy * sy
    r = F.when((vx > 0) & (vy > 0), num / F.sqrt(vx * vy))
    return agg.select(F.col("m").alias("n_edges"), r.alias("r"))


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support of a canonical ``(a, b)`` edge set:
    ``(a, b, support)`` for EVERY input edge (0 when triangle-free).
    The :func:`triangle_count` degree-ordered edge-iterator, credited
    to edges instead of corners: each triangle is enumerated exactly
    once at its lowest-rank oriented edge, then fans out one count to
    each of its three id-canonical edges."""
    # same adjacency-explode shape as triangle_count (round-15): the
    # oriented edges regenerate from the materialized adjacency with
    # nb_s attached, dropping the edges⋈adj-on-s join
    adj = (_degree_oriented(e).select("s", "d")
           .groupBy("s").agg(F.collect_list("d").alias("nb"))
           .localCheckpoint())
    t = (adj.select("s", F.col("nb").alias("nb_s"),
                    F.explode("nb").alias("d"))
         .join(adj.select(F.col("s").alias("d"),
                          F.col("nb").alias("nb_d")), "d")
         .select("s", "d",
                 F.array_intersect("nb_s", "nb_d").alias("common"))
         .filter(F.size("common") > 0))
    # all three edge credits of a wedge ride ONE explode of a
    # per-wedge credit array — the union-of-three-selects re-planned
    # the wedge subtree (incl. its array_intersect) per branch; the
    # (s, d) edge's credit folds to a single weighted row
    # (round 16; see triangle_count). Exact integer credits.
    sz = F.size("common").cast("long")

    def _edge_cred(u, v, w):
        return F.struct(F.least(u, v).alias("a"),
                        F.greatest(u, v).alias("b"), w.alias("w"))

    cred = F.concat(
        F.array(_edge_cred(F.col("s"), F.col("d"), sz)),
        F.transform("common",
                    lambda c: _edge_cred(F.col("s"), c,
                                         F.lit(1).cast("long"))),
        F.transform("common",
                    lambda c: _edge_cred(F.col("d"), c,
                                         F.lit(1).cast("long"))))
    sup = (t.select(F.explode(cred).alias("p"))
           .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
           .agg(F.sum("p.w").cast("long").alias("support")))
    return (e.join(sup, ["a", "b"], "left")
            .select("a", "b", F.coalesce("support", F.lit(0))
                    .cast("long").alias("support")))


def ktruss(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-truss peeling (Cohen 2008), the bounded bulk form: returns
    the edges ``(a, b, support)`` surviving ``rounds`` peels of
    "drop every edge in fewer than k−2 triangles", with ``support``
    recomputed on the FINAL subgraph. The cohesion tier between
    :func:`kcore_decompose` (degree-based — a hub with k leaf ties
    passes) and full clique mining (exponential): a k-truss edge's
    endpoints share k−2 common survivors, so it isolates the
    densely-INTERLOCKED cores dedup/co-occurrence analysis actually
    wants. With ``rounds`` ≥ the peel depth the result is the exact
    k-truss (the fixed point; extra rounds are no-ops) — fixed
    rounds keep it deterministic and SQL-replayable (the
    :func:`pagerank` contract).

    Per round: one :func:`_edge_support` pass — the degree-ordered
    edge-iterator (every out-degree O(√m), skew-safe; the wedge
    volume stays inside map-side array intersections, never shuffle
    rows) + one triangle→3-edges fan-out aggregate — then a filter.
    Exact integer supports end to end. The peels run through
    :func:`lindel_spark.util.iterate`, whose ``until`` stops at the
    first support frame that would remove no edge (one eager scalar
    job per checkpointed round).
    """
    if k < 3:
        raise ValueError("k must be >= 3 (k-truss is defined on "
                         "triangle support)")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    # the canonical edge set is scanned three times per support pass
    # (degree aggregate, orientation join, final left join) — without
    # the checkpoint each scan re-runs the caller's whole edge
    # derivation (round 16; guide §5 — cut lineage once, scan cheap).
    e = _canonical_edges(edges, src, dst).localCheckpoint()

    def nothing_removed(sup: DataFrame) -> bool:
        # fixed-point early exit: when a peel removes nothing, every
        # remaining round is a no-op and ``sup`` already IS the
        # support of the final subgraph — skip the remaining passes
        # (one bounded scalar per round over the checkpointed frame;
        # measured frontier shape on the co-purchase graph: the first
        # peel removes ~99.6% of edges, the second a further 73%, the
        # third nothing — which is also why a delta recount does not
        # pay here: the surviving graphs are already tiny, so a full
        # recount on them is near-floor; the big graph is only ever
        # support-counted once)
        return not sup.agg(F.sum(
            (F.col("support") < k - 2).cast("int"))).first()[0]

    # the state is the support frame (not just the filtered edges),
    # checkpointed: the peel filter, the next pass's three edge scans
    # and the fixed-point probe all read it for free
    return iterate(
        _edge_support(e).localCheckpoint(),
        lambda sup, _r: _edge_support(
            sup.filter(F.col("support") >= k - 2).select("a", "b")),
        rounds, until=nothing_removed)


def project_bipartite(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_weight: int = 1,
    max_group_size: int | None = None,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite membership frame
    (orders×parts, baskets×products, docs×entities): ``(src, dst,
    weight)`` with ``src < dst`` and ``weight`` = how many groups
    contain both items — the co-occurrence graph builder every graph
    operator in this module consumes (the registry's "co-purchase
    graph" recipe, promoted from inline SQL to an operator).

    ``min_weight`` prunes noise edges IN-PLAN (a weight-1 edge is
    one shared basket — usually noise at corpus scale; the filter
    lands before the edge list materializes downstream).
    ``max_group_size`` is the SKEW GUARD (the dedup hot-bucket
    lesson): one 10⁴-item group alone emits ~5·10⁷ pairs — pass a
    bound to DROP oversized groups (one map-side-combined size
    aggregate + a semi-join, so the quadratic blow-up is cut before
    the self-join runs). Dropping is the right default for curation
    graphs: a basket shared by everything carries no similarity
    signal (the IDF intuition).

    Plan: per-group size audit (optional) → one equi-self-join on
    the group key with ``a < b`` → one map-side-combined pair count.
    Exact integer weights, fully SQL-replayable.
    """
    if min_weight < 1:
        raise ValueError("min_weight must be >= 1")
    m = (df.select(F.col(group_col).alias("__g"),
                   F.col(item_col).alias("__i"))
         .filter(F.col("__g").isNotNull() & F.col("__i").isNotNull())
         .distinct())
    if max_group_size is not None:
        if max_group_size < 2:
            raise ValueError("max_group_size must be >= 2")
        ok = (m.groupBy("__g")
              .agg(F.count(F.lit(1)).alias("__sz"))
              .filter(F.col("__sz") <= max_group_size)
              .select("__g"))
        m = m.join(ok, "__g", "left_semi")
    a = m.select("__g", F.col("__i").alias("src"))
    b = m.select("__g", F.col("__i").alias("dst"))
    pairs = (a.join(b, "__g")
             .filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).cast("long").alias("weight")))
    if min_weight > 1:
        pairs = pairs.filter(F.col("weight") >= min_weight)
    return pairs


def clustering_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz
    1998): ``(node, degree, triangles, coeff)`` with ``coeff =
    2·T(v) / (deg(v)·(deg(v)−1))`` — "how clique-like is each
    node's neighborhood", the per-node complement to the global
    :func:`degree_assortativity` / :func:`modularity` audits: a
    similarity graph whose high-degree nodes have near-zero
    coefficients is hub-polluted (one doc similar to everything —
    boilerplate), which is exactly what a dedup/curation pipeline
    wants flagged before clustering. Every node of the canonical
    graph appears (degree-1 nodes get coeff 0.0).

    A pure composition of shipped primitives: exact per-node
    triangle counts from the skew-safe degree-ordered
    :func:`triangle_count` + one degree aggregate + one node-keyed
    join. Exact integers until the final division — engine-exact.
    """
    e = _canonical_edges(edges, src, dst)
    deg = (e.select(F.explode(F.array("a", "b")).alias("node"))
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("degree")))
    tri = triangle_count(e, src="a", dst="b")
    dd = F.col("degree").cast("double")
    return (deg.join(tri, "node", "left")
            .select("node", "degree",
                    F.coalesce(F.col("triangles"), F.lit(0))
                    .cast("long").alias("triangles"))
            .withColumn(
                "coeff",
                F.when(F.col("degree") >= 2,
                       2.0 * F.col("triangles").cast("double")
                       / (dd * (dd - 1.0))).otherwise(F.lit(0.0))))
