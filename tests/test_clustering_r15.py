"""Round-15 distributed Lloyd k-means: hand-checkable geometry,
empty-cluster convention, determinism, centroid helper."""

import pytest
from pyspark.sql import functions as F

from lindel_spark.clustering import cluster_centroids, kmeans_lloyd


def _blobs(spark):
    # blob A around (0,0): ids 0-3; blob B around (10,10): ids 4-7.
    # Default init = vectors of the two smallest ids -> BOTH in blob
    # A, so convergence (not initialization luck) must separate them.
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
           (3, [-0.1, 0.0]),
           (4, [10.0, 10.0]), (5, [10.1, 10.0]), (6, [10.0, 10.1]),
           (7, [9.9, 10.0])]
    return spark.createDataFrame(pts, "vec_id long, embedding array<double>")


def test_kmeans_separates_two_blobs(spark):
    out = kmeans_lloyd(_blobs(spark), k=2, rounds=3).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.cluster, set()).add(r.id)
    assert sorted(len(v) for v in by_cluster.values()) == [4, 4]
    assert {0, 1, 2, 3} in by_cluster.values()
    assert {4, 5, 6, 7} in by_cluster.values()


def test_kmeans_dist2_exact(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [3.0, 4.0])],
        "vec_id long, embedding array<double>")
    # k=2, rounds=1: init c0=id0's vec, c1=id1's vec; each point is
    # its own centroid -> dist2 = 0
    out = {r.id: r for r in
           kmeans_lloyd(df, k=2, rounds=1).collect()}
    assert out[0].dist2 == 0.0 and out[1].dist2 == 0.0
    assert out[0].cluster != out[1].cluster


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # explicit init with a far-away third centroid that never wins:
    # no crash, assignments use only the two live clusters, and the
    # run is stable across rounds (the far centroid never moves)
    init = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [1e6, 1e6])],
        "c long, cvec array<double>")
    out = kmeans_lloyd(_blobs(spark), k=3, rounds=3,
                       init=init).collect()
    assert {r.cluster for r in out} == {0, 1}


def test_kmeans_deterministic_across_partitioning(spark):
    df = _blobs(spark)
    a = sorted((r.id, r.cluster) for r in
               kmeans_lloyd(df, k=2, rounds=3).collect())
    b = sorted((r.id, r.cluster) for r in
               kmeans_lloyd(df.repartition(7), k=2,
                            rounds=3).collect())
    assert a == b


def test_cluster_centroids_hand_means(spark):
    df = _blobs(spark)
    assign = kmeans_lloyd(df, k=2, rounds=3)
    cc = cluster_centroids(df, assign).collect()
    got = {(r.cluster, r.dim): (r.n, r.coord) for r in cc}
    assert len(got) == 4  # 2 clusters x 2 dims
    coords = sorted(round(v[1], 9) for v in got.values())
    assert coords == sorted([0.0, 0.025, 10.0, 10.025])
    assert all(v[0] == 4 for v in got.values())


def test_kmeans_validates(spark):
    df = _blobs(spark)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=2, rounds=0)


def test_kmeans_plan_shape(spark, sf_dir):
    # corpus never shuffles for assignment (broadcast centroid
    # frame); no corpus self-join (vec rides the argmin struct); no
    # sort-merge anywhere
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = kmeans_lloyd(emb, k=4, rounds=2)
    p = a._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_cluster_assign_stream_equals_batch(spark, tmp_path_factory):
    import numpy as np
    from lindel_spark import streaming as ST
    from lindel_spark.clustering import assign_clusters

    rng = np.random.RandomState(21)
    rows = [(i, [float(x) for x in rng.randn(3)]) for i in range(90)]
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    cents = [(0, [0.0, 0.0, 0.0]), (1, [2.0, 2.0, 2.0]),
             (2, [-2.0, 0.0, 1.0])]
    src = str(tmp_path_factory.mktemp("ca_src"))
    out = str(tmp_path_factory.mktemp("ca_out"))
    for lo, hi, p in ((0, 30, "p1"), (30, 60, "p2"), (60, 90, "p3")):
        (df.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
         .coalesce(1).write.parquet(f"{src}/{p}"))
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(src))
    q = ST.cluster_assign_stream_sink(stream, cents, out) \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)

    got = (spark.read.parquet(out + "/counts")
           .groupBy("cluster")
           .agg(F.sum("n").alias("n"),
                F.sum("sum_dist2").alias("sd")).collect())
    cent_df = spark.createDataFrame(cents,
                                    "c long, cvec array<double>")
    want = (assign_clusters(df, cent_df)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("dist2").alias("sd")).collect())
    g = {r.cluster: (r.n, r.sd) for r in got}
    w = {r.cluster: (r.n, r.sd) for r in want}
    assert set(g) == set(w)
    for c in w:
        assert g[c][0] == w[c][0]
        assert g[c][1] == pytest.approx(w[c][1], abs=1e-9)
    # one partition per batch
    batches = spark.read.parquet(out + "/counts") \
        .select("b").distinct().count()
    assert batches == 3
