"""Round-13 graph additions: bounded-round weighted SSSP.

Hand-computed fixtures pin the relaxation semantics (min total weight
over paths of <= rounds edges), the round bound itself, undirected
symmetrization, parallel-edge min collapse, and the weight==1
degeneration to bfs_distances.
"""

import pytest
from pyspark.sql import functions as F

from lindel_spark.graph import bfs_distances, sssp_distances


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, weight double")


def _srcs(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def _dists(df):
    return {r.node: r.dist for r in df.collect()}


def test_sssp_cheap_long_path_beats_heavy_direct(spark):
    # 1-4 direct costs 10; 1-2-3-4 costs 3 but needs 3 rounds
    e = _edges(spark, [(1, 4, 10.0), (1, 2, 1.0), (2, 3, 1.0),
                       (3, 4, 1.0)])
    s = _srcs(spark, [1])
    d1 = _dists(sssp_distances(e, s, rounds=1))
    assert d1 == {1: 0.0, 4: 10.0, 2: 1.0}
    d3 = _dists(sssp_distances(e, s, rounds=3))
    assert d3 == {1: 0.0, 2: 1.0, 3: 2.0, 4: 3.0}
    # round 2: best 2-edge walk to 4 is still the direct edge (10)
    d2 = _dists(sssp_distances(e, s, rounds=2))
    assert d2[4] == 10.0 and d2[3] == 2.0


def test_sssp_multi_source_takes_min_over_sources(spark):
    e = _edges(spark, [(1, 2, 5.0), (3, 2, 1.0)])
    d = _dists(sssp_distances(e, _srcs(spark, [1, 3]), rounds=2))
    assert d == {1: 0.0, 3: 0.0, 2: 1.0}


def test_sssp_undirected_and_parallel_edge_min(spark):
    # duplicate (1,2) edges: only the cheap one matters; undirected
    # means 2 reaches 1's neighborhood too
    e = _edges(spark, [(1, 2, 7.0), (1, 2, 2.0), (2, 3, 1.0)])
    d = _dists(sssp_distances(e, _srcs(spark, [3]), rounds=2))
    assert d == {3: 0.0, 2: 1.0, 1: 3.0}


def test_sssp_directed_respects_edge_direction(spark):
    e = _edges(spark, [(1, 2, 1.0), (3, 2, 1.0)])
    d = _dists(sssp_distances(e, _srcs(spark, [1]), rounds=3,
                              directed=True))
    assert d == {1: 0.0, 2: 1.0}  # 3 unreachable along direction


def test_sssp_unit_weights_degenerate_to_bfs(spark):
    e = _edges(spark, [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0),
                       (2, 5, 1.0), (5, 4, 1.0), (1, 6, 1.0)])
    s = _srcs(spark, [1])
    got = _dists(sssp_distances(e, s, rounds=3))
    hops = {r.node: float(r.dist) for r in bfs_distances(
        e.select("src", "dst"), s, max_hops=3).collect()}
    assert got == hops


def test_sssp_improvement_after_first_reach(spark):
    # node 3 is first reached in round 1 (cost 9) and must IMPROVE in
    # round 2 via the cheaper 2-edge path — the case plain BFS-style
    # "settled at first reach" logic gets wrong
    e = _edges(spark, [(1, 3, 9.0), (1, 2, 1.0), (2, 3, 1.0)])
    s = _srcs(spark, [1])
    assert _dists(sssp_distances(e, s, rounds=1))[3] == 9.0
    assert _dists(sssp_distances(e, s, rounds=2))[3] == 2.0


def test_sssp_rounds_validation(spark):
    e = _edges(spark, [(1, 2, 1.0)])
    with pytest.raises(ValueError):
        sssp_distances(e, _srcs(spark, [1]), rounds=0)


# ------------------------------------------------- kNN graph export

def test_knn_graph_exact_and_mutual(spark):
    import numpy as np
    from lindel_spark import similarity as LS

    # 2 tight clusters of 4 + one outlier chasing cluster A: directed
    # edges from the outlier exist, mutual edges within clusters only
    rng = np.random.RandomState(0)
    base = {0: np.array([1.0, 0, 0, 0]), 1: np.array([0, 1.0, 0, 0])}
    rows = []
    for i in range(8):
        v = base[i // 4] + rng.randn(4) * 0.01
        rows.append((i, [float(x) for x in v]))
    rows.append((8, [1.0, 0.4, 0.0, 0.0]))  # outlier nearer cluster 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = LS.knn_graph(df, k=3)
    edges = {(r.src, r.dst) for r in g.collect()}
    assert all(len([d for s, d in edges if s == i]) == 3 for i in range(9))
    gm = LS.knn_graph(df, k=3, mutual=True)
    mutual = {(r.src, r.dst) for r in gm.collect()}
    assert mutual == {(s, d) for (s, d) in mutual if (d, s) in mutual}
    # intra-cluster pairs survive; nothing mutual crosses clusters
    assert all((s // 4 == d // 4) or 8 in (s, d) for s, d in mutual)


def test_knn_graph_feeds_lpa_two_clusters(spark):
    import numpy as np
    from lindel_spark import similarity as LS
    from lindel_spark.graph import label_propagation_communities

    rng = np.random.RandomState(1)
    rows = []
    for i in range(12):
        c = i // 6
        v = np.zeros(4); v[c] = 1.0
        v += rng.randn(4) * 0.02
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    g = LS.knn_graph(df, k=3, mutual=True)
    edges = (g.filter(F.col("src") < F.col("dst"))
             .select("src", "dst").distinct())
    comm = label_propagation_communities(edges, rounds=3)
    labels = {r.node: r.label for r in comm.collect()}
    # synchronous LPA legitimately 2-colors inside a dense cluster
    # (label oscillation), so the invariant is SEPARATION: no
    # community ever spans both planted clusters
    la = {labels[i] for i in range(6)}
    lb = {labels[i] for i in range(6, 12)}
    assert la.isdisjoint(lb)
    # and the mutual kNN graph itself never crosses clusters
    es = {(r.src, r.dst) for r in edges.collect()}
    assert all(s // 6 == d // 6 for s, d in es)


# ------------------------------------------- personalized pagerank

def test_ppr_mass_conserved_and_seed_proximity(spark):
    from lindel_spark.graph import personalized_pagerank

    # chain 1 -> 2 -> 3 -> 4, seed at 1: rank decays with distance
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long")
    s = spark.createDataFrame([(1,)], "node long")
    r = {x.node: x.rank for x in
         personalized_pagerank(e, s, iterations=8).collect()}
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-12)
    assert r[1] > r[2] > r[3] > r[4] > 0


def test_ppr_all_seeds_degenerates_to_pagerank(spark):
    from lindel_spark.graph import pagerank, personalized_pagerank

    e = spark.createDataFrame(
        [(1, 2, 2.0), (2, 3, 1.0), (3, 1, 1.0), (1, 3, 1.0)],
        "src long, dst long, w double")
    s = spark.createDataFrame([(1,), (2,), (3,)], "node long")
    pr = {x.node: x.rank for x in
          pagerank(e, iterations=5, weight="w").collect()}
    ppr = {x.node: x.rank for x in
           personalized_pagerank(e, s, iterations=5,
                                 weight="w").collect()}
    for n in pr:
        assert ppr[n] == pytest.approx(pr[n], abs=1e-12)


def test_ppr_isolated_seed_keeps_restart_mass(spark):
    from lindel_spark.graph import personalized_pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = spark.createDataFrame([(99,)], "node long")  # not in graph
    r = {x.node: x.rank for x in
         personalized_pagerank(e, s, iterations=4).collect()}
    assert set(r) == {1, 2, 99}
    assert sum(r.values()) == pytest.approx(1.0, abs=1e-12)
    assert r[99] > 0.5  # seed keeps the restart + dangling mass
    assert r[1] == pytest.approx(0.0, abs=1e-15)  # unreachable


def test_ppr_empty_seeds_raises(spark):
    from lindel_spark.graph import personalized_pagerank

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    s = spark.createDataFrame([], "node long")
    with pytest.raises(ValueError):
        personalized_pagerank(e, s)
