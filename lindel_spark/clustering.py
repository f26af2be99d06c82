"""Density clustering as DataFrame programs: exact 2-D grid DBSCAN
composed from the package's own primitives — the Morton-cell spatial
range join (:func:`lindel_spark.joins.spatial_range_join`, 3×3
neighborhood probe, never all-pairs) for ε-neighborhoods and the
large-star/small-star connected components
(:func:`lindel_spark.graph.connected_components`, O(log n) rounds)
for cluster formation.

The reference's host engine has no clustering operators; a
training-data pipeline wants DBSCAN for spatial/low-dimensional
structure discovery (geo events, 2-D projections of embeddings via
:func:`lindel_spark.similarity.random_project`) where k-means-style
cell quantizers (the IVF tier) assume convex blobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lindel_spark.util import iterate


def dbscan_2d(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Exact DBSCAN (Ester et al. 1996) on 2-D points: returns
    ``(id, role, cluster)`` with ``role`` ∈ core/border/noise and
    ``cluster`` the MINIMUM core-point id reachable (NULL for
    noise). Semantics are the textbook ones with one determinism
    fix: a border point within ε of cores from several clusters is
    assigned the SMALLEST cluster id (classic DBSCAN leaves that
    order-dependent; pipelines need replayable output). L2 metric;
    a point counts itself toward ``min_pts``.

    Plan — three shipped primitives, zero new shuffle machinery:
    ε-pairs from the Morton-cell grid join (each point probes its
    3×3 cell neighborhood — pair volume is true-neighbor-bounded,
    never all-pairs), core flags from one map-side-combined
    neighbor count, clusters from large-star/small-star connected
    components over the CORE-CORE edges only (border points hang
    off the result via one more join, so the CC never sees the
    non-core fringe). At 100 TB the density knob is the same one
    DBSCAN always has: ε must keep per-cell occupancy sane — run
    the degree-profile audit on the pair graph if unsure.
    """
    if min_pts < 1:
        raise ValueError("min_pts must be >= 1")
    if eps <= 0:
        raise ValueError("eps must be > 0")
    from pyspark import StorageLevel

    from lindel_spark.graph import connected_components
    from lindel_spark.joins import spatial_range_join

    pts = df.select(F.col(id_col).alias("id"),
                    F.col(x_col).cast("double").alias("x"),
                    F.col(y_col).cast("double").alias("y"))
    pairs = (spatial_range_join(pts, pts, ["x", "y"], ["x", "y"],
                                radius=float(eps), metric="l2")
             .filter(F.col("l_id") != F.col("r_id"))
             .select(F.col("l_id").alias("a"), F.col("r_id").alias("b"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    # +1: the point itself is in its own ε-neighborhood
    counts = pairs.groupBy("a").agg(
        (F.count(F.lit(1)) + 1).cast("long").alias("n_nbrs"))
    flagged = (pts.join(counts, pts["id"] == counts["a"], "left")
               .select("id", "x", "y",
                       (F.coalesce(F.col("n_nbrs"), F.lit(1))
                        >= F.lit(int(min_pts))).alias("is_core"))
               .persist(StorageLevel.MEMORY_AND_DISK))
    cores = flagged.filter("is_core").select(F.col("id").alias("node"))
    core_edges = (pairs
                  .join(cores.withColumnRenamed("node", "a"), "a")
                  .join(cores.withColumnRenamed("node", "b"), "b")
                  .filter(F.col("a") < F.col("b"))
                  .select(F.col("a").alias("src"),
                          F.col("b").alias("dst")))
    # alias the CC output columns before joining back: comp derives
    # FROM cores, so an unaliased self-join is ambiguous lineage
    comp = (connected_components(core_edges, nodes=cores)
            .select(F.col("node").alias("__cn"),
                    F.col("component").alias("__cc")))
    core_out = (cores.join(comp, F.col("node") == F.col("__cn"),
                           "left")
                .select(F.col("node").alias("id"),
                        F.lit("core").alias("role"),
                        # isolated cores (no core neighbor) are their
                        # own singleton cluster
                        F.coalesce(F.col("__cc"), F.col("node"))
                        .alias("cluster")))
    # border: non-core with >= 1 core neighbor -> smallest cluster id
    # among its core neighbors (the determinism fix)
    noncore = flagged.filter(~F.col("is_core")).select("id")
    border = (pairs.join(noncore.withColumnRenamed("id", "a"), "a")
              .join(core_out.select(F.col("id").alias("b"),
                                    F.col("cluster").alias("__cl")),
                    "b")
              .groupBy("a")
              .agg(F.min("__cl").alias("cluster"))
              .select(F.col("a").alias("id"),
                      F.lit("border").alias("role"), "cluster"))
    noise = (noncore.join(border.select("id"), "id", "left_anti")
             .select("id", F.lit("noise").alias("role"),
                     F.lit(None).cast(
                         dict(core_out.dtypes)["cluster"])
                     .alias("cluster")))
    return core_out.unionByName(border).unionByName(noise)


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    rounds: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: DataFrame | None = None,
) -> DataFrame:
    """DISTRIBUTED Lloyd's k-means (Lloyd 1957/1982, the synchronous
    bulk form): returns ``(id, cluster, dist2)`` — each row's cluster
    after ``rounds`` assign/update iterations and its squared
    euclidean distance to that centroid. The missing scale tier next
    to :func:`lindel_spark.similarity.train_centroids`: that trains
    on a bounded DRIVER sample (fine for seeding IVF cells), this
    runs every iteration as distributed DataFrame ops over the FULL
    corpus — the shape that still works when the corpus is 100 TB:
    no per-round driver action, no collect, state is a k-row centroid
    frame that broadcasts.

    Deterministic and SQL-replayable (the pagerank contract): fixed
    ``rounds``; ``init`` defaults to the vectors of the k SMALLEST
    ids (an explicit, engine-replayable seed — pass a (cluster, vec)
    frame, e.g. from a smarter sampler, to override); argmin ties
    break to the smallest cluster id; the per-dimension distance
    fold runs in ascending-dimension order (``zip_with`` +
    left-fold) so an oracle's ``SUM(... ORDER BY dim)`` replays it
    bit-for-bit; empty clusters keep their previous centroid (the
    standard convention that keeps k stable).

    Plan per round: one BROADCAST join of the k-row centroid frame
    (never a shuffle of the corpus), a map-side argmin via
    ``min_by``-shaped ``min(struct(dist2, cluster))``, one
    posexplode + (cluster, dim) mean for the update, and a k-row
    sort-collect back to arrays. Corpus rows are touched exactly
    ``rounds + 1`` times; the ``rounds − 1`` updates run through
    :func:`lindel_spark.util.iterate`, which persists the k-row
    centroid frame and checkpoints it every 4th update (the only
    eager jobs while building), and the final round is the
    assignment alone.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from pyspark import StorageLevel
    from pyspark.sql import Window

    v = (df.select(F.col(id_col).cast("long").alias("id"),
                   F.col(vec_col).cast("array<double>").alias("vec"))
         .filter(F.col("id").isNotNull() & F.col("vec").isNotNull())
         .persist(StorageLevel.MEMORY_AND_DISK))
    if init is None:
        # k smallest ids: the global sort is a k-row top-k (limit
        # pushes a TakeOrdered, never a full corpus sort), and the
        # row_number window runs on that k-row frame only
        w = Window.orderBy("id")
        cent = (v.orderBy("id").limit(k)
                .select((F.row_number().over(w) - 1).cast("long")
                        .alias("c"), F.col("vec").alias("cvec")))
    else:
        cent = init.toDF("c", "cvec")

    dist2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("cvec"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)

    def _assign(cframe: DataFrame, with_vec: bool) -> DataFrame:
        # the vector rides INSIDE the argmin struct so the update
        # stage never re-joins the corpus (no SortMergeJoin): (d2, c)
        # is unique per id, so the array field is never compared
        fields = [F.col("__d2"), F.col("c")] \
            + ([F.col("vec")] if with_vec else [])
        scored = (v.crossJoin(F.broadcast(cframe))
                  .select("id", "vec", F.col("c"),
                          dist2.alias("__d2")))
        out = (scored.groupBy("id")
               .agg(F.min(F.struct(*fields)).alias("__b"))
               .select("id", F.col("__b.c").alias("cluster"),
                       F.col("__b.__d2").alias("dist2"),
                       *([F.col("__b.vec").alias("vec")]
                         if with_vec else [])))
        return out

    def update(cent: DataFrame, _r: int) -> DataFrame:
        upd = (_assign(cent, with_vec=True)
               .select("cluster", F.posexplode("vec")
                       .alias("dim", "x"))
               .groupBy("cluster", "dim")
               .agg(F.avg("x").alias("m"))
               .groupBy("cluster")
               .agg(F.array_sort(F.collect_list(F.struct(
                   F.col("dim"), F.col("m")))).alias("__dm"))
               .select(F.col("cluster").alias("c"),
                       F.transform(F.col("__dm"),
                                   lambda s: s["m"]).alias("cvec")))
        # empty clusters keep their previous centroid (k-row frames
        # on both sides — broadcast, never a sort-merge)
        return (cent.select("c", F.col("cvec").alias("__old"))
                .join(F.broadcast(upd), "c", "left")
                .select("c", F.coalesce("cvec", "__old")
                        .alias("cvec")))

    # every=4: bench.py kmeans_embeddings (sf0.1, 4 cores) ran 1.32 s
    # with a checkpoint after every update against 0.54 s persisted
    return _assign(iterate(cent, update, rounds - 1, every=4),
                   with_vec=False)


def cluster_centroids(
    df: DataFrame,
    assign: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster sizes and mean vectors for a :func:`kmeans_lloyd`
    assignment: ``(cluster, n, dim, coord)`` — one row per (cluster,
    dimension), the exploded form that aggregates without any
    array-order ambiguity (the mean is a plain per-(cluster, dim)
    AVG; with integer-quantized inputs it is a ratio of exact
    integers, engine-exact). Plan: one id-keyed join + posexplode +
    map-side-combined aggregate."""
    a = assign.select(F.col("id"), F.col("cluster"))
    v = df.select(F.col(id_col).cast("long").alias("id"),
                  F.col(vec_col).cast("array<double>").alias("vec"))
    sz = a.groupBy("cluster").agg(F.count(F.lit(1)).cast("long")
                                  .alias("n"))
    return (a.join(v, "id")
            .select("cluster", F.posexplode("vec").alias("dim", "x"))
            .groupBy("cluster", F.col("dim").cast("long").alias("dim"))
            .agg(F.avg("x").alias("coord"))
            .join(F.broadcast(sz), "cluster")
            .select("cluster", "n", "dim", "coord"))


def assign_clusters(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd assignment pass against a FIXED ``(c, cvec)``
    centroid frame: ``(id, cluster, dist2)`` — the serving face of
    :func:`kmeans_lloyd` (same broadcast-join + map-side argmin
    plan, same ascending-dim distance fold and smallest-cluster tie
    break), for scoring new corpora against trained centroids and
    for the streaming monitor
    (:func:`lindel_spark.streaming.cluster_assign_stream_sink`)."""
    v = (df.select(F.col(id_col).cast("long").alias("id"),
                   F.col(vec_col).cast("array<double>").alias("vec"))
         .filter(F.col("id").isNotNull() & F.col("vec").isNotNull()))
    cent = centroids.toDF("c", "cvec")
    dist2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("cvec"),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (v.crossJoin(F.broadcast(cent))
              .select("id", F.col("c"), dist2.alias("__d2")))
    return (scored.groupBy("id")
            .agg(F.min(F.struct(F.col("__d2"), F.col("c")))
                 .alias("__b"))
            .select("id", F.col("__b.c").alias("cluster"),
                    F.col("__b.__d2").alias("dist2")))
