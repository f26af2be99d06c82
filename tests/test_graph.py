"""PageRank semantics on small hand-checkable graphs."""

import pytest
from pyspark.sql import functions as F

from lindel_spark.graph import pagerank, personalized_pagerank


def test_pagerank_uniform_on_symmetric_cycle(spark):
    # a -> b -> c -> a: perfect symmetry, ranks stay 1/3
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    out = {r.node: r.rank for r in pagerank(edges, iterations=8).collect()}
    for v in out.values():
        assert abs(v - 1 / 3) < 1e-12
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_sink_attracts_mass_and_total_is_one(spark):
    # a -> c, b -> c; c dangling: its mass redistributes uniformly
    edges = spark.createDataFrame(
        [("a", "c"), ("b", "c")], "src string, dst string")
    out = {r.node: r.rank for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert out["c"] > out["a"] and out["c"] > out["b"]
    assert abs(out["a"] - out["b"]) < 1e-12  # symmetric sources


def test_pagerank_weights_shift_rank(spark):
    # a sends 9x more weight to b than to c
    edges = spark.createDataFrame(
        [("a", "b", 9.0), ("a", "c", 1.0), ("b", "a", 1.0),
         ("c", "a", 1.0)],
        "src string, dst string, w double")
    out = {r.node: r.rank for r in
           pagerank(edges, iterations=20, weight="w").collect()}
    assert out["b"] > out["c"]
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_pagerank_matches_reference_power_iteration(spark):
    """Exact replay of the same fixed-iteration scheme in NumPy."""
    import numpy as np

    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges = spark.createDataFrame(
        [(str(s), str(t)) for s, t in E], "src string, dst string")
    n, d, iters = 4, 0.85, 6
    r = np.full(n, 1 / n)
    out_deg = {0: 2, 1: 1, 2: 1, 3: 1}
    for _ in range(iters):
        nxt = np.full(n, (1 - d) / n)
        dangling = sum(r[i] for i in range(n) if i not in out_deg)
        for s, t in E:
            nxt[t] += d * r[s] / out_deg[s]
        nxt += d * dangling / n
        r = nxt
    got = {int(row.node): row.rank for row in
           pagerank(edges, iterations=iters).collect()}
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, (i, got[i], r[i])


def test_pagerank_ranks_bit_identical_across_layouts(spark):
    """The same weighted edges read from one partition and from five
    give bit-identical ranks: every sum is exact or taken in sorted
    order, so the order in which partial aggregates arrive cannot move
    a bit."""
    import random

    rnd = random.Random(11)
    nodes = [f"n{i}" for i in range(12)]
    # n11 has no out-edges (dangling); weights are not dyadic, so a
    # double sum of them depends on its order
    E = sorted({(s, t, round(rnd.uniform(0.1, 3.0), 3))
                for s in nodes[:11] for t in rnd.sample(nodes, 5)
                if s != t})
    edges = spark.createDataFrame(E, "src string, dst string, w double")
    seeds = spark.createDataFrame([("n0",), ("n7",)], "node string")

    def ranks(df):
        return (sorted(pagerank(df, iterations=6, weight="w").collect()),
                sorted(personalized_pagerank(
                    df, seeds, iterations=6, weight="w").collect()))

    one, five = ranks(edges.repartition(1)), ranks(edges.repartition(5))
    assert len(one[0]) == len(one[1]) == 12
    assert one == five


def test_hits_rows_bit_identical_across_layouts(spark):
    """HITS keeps the pagerank contract: the first authority pass sums
    exact in-degree counts (duplicate edges counted), every later sum
    is decimal, so one, five and seven input partitions give the same
    bits."""
    import random

    from lindel_spark.graph import hits

    rnd = random.Random(3)
    E = [(rnd.randrange(12), rnd.randrange(12)) for _ in range(50)]
    E += E[:6]  # duplicate edges are signal in HITS
    edges = spark.createDataFrame(E, "src long, dst long")
    one, five, seven = (sorted(hits(edges.repartition(k),
                                    iterations=5).collect())
                        for k in (1, 5, 7))
    assert len(one) == 12
    assert one == five == seven


def test_pagerank_build_runs_count_plus_checkpoints(spark, actions):
    """Building pagerank runs the node count and one checkpoint per
    iteration but the last (``util.iterate``), no other action; the
    last iteration stays lazy."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")],
        "src string, dst string")
    _, n5 = actions(lambda: pagerank(edges, iterations=5))
    assert n5 == 1 + 4
    _, n1 = actions(lambda: pagerank(edges, iterations=1))
    assert n1 == 1


def test_pagerank_validates_iterations(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)


def test_connected_components_two_islands_and_isolate(spark):
    from lindel_spark.graph import connected_components
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long")
    nodes = spark.createDataFrame([(1,), (2,), (3,), (10,), (11,),
                                   (99,)], "node long")
    out = {r.node: r.component for r in connected_components(
        edges, nodes=nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_chain_diameter(spark):
    # a long path graph stresses multi-round propagation
    from lindel_spark.graph import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long")
    out = {r.node: r.component for r in
           connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 13


# ---------------------------------------------------------------------------
# round 11: alternating large-star/small-star CC (Kiveris et al. 2014)
# ---------------------------------------------------------------------------

def _minlabel_components(edges, nodes=None, max_iter=15):
    """Test-side reference for ``connected_components``: min-label
    propagation — per round every vertex takes the min of its own and
    its neighbors' labels, until a round changes no label (rounds =
    graph diameter)."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d"))
    if nodes is None:
        nodes = (e.select(F.col("s").alias("node"))
                 .unionByName(e.select(F.col("d").alias("node")))
                 .distinct())
    sym = e.union(
        e.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).localCheckpoint()
    labels = nodes.select(
        F.col("node").alias("id"), F.col("node").alias("label")
    ).localCheckpoint()
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iter):
        nbr = (sym.join(labels, sym["d"] == labels["id"])
               .groupBy("s").agg(F.min("label").alias("nl")))
        labels = (
            labels.join(nbr, labels["id"] == nbr["s"], "left")
            .select(labels["id"],
                    F.least(labels["label"],
                            F.coalesce(F.col("nl"), labels["label"]))
                    .alias("label"))
            .localCheckpoint())
        cur_sum = labels.agg(F.sum("label")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels.select(
        F.col("id").alias("node"), F.col("label").alias("component"))


def test_cc_star_path_graph_logarithmic_rounds(spark):
    """A 1000-node path graph (diameter 999) must converge in O(log n)
    star rounds — the whole point of the alternating algorithm (the
    min-label engine needs ~diameter rounds here)."""
    from lindel_spark.graph import _cc_star
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(999)], "src long, dst long")
    labels, rounds = _cc_star(edges, "src", "dst", None, 50)
    rows = labels.collect()
    assert len(rows) == 1000
    assert all(r.component == 0 for r in rows)
    assert rounds <= 12, f"star took {rounds} rounds on a path-1000"


def test_cc_star_equals_minlabel_random_graph(spark):
    """The star engine agrees node-for-node with the min-label
    reference on a multi-component random graph (self-loops,
    duplicate edges, isolates via nodes=)."""
    import random

    from lindel_spark.graph import connected_components
    rng = random.Random(7)
    E = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    E += [(5, 5), (0, 1), (0, 1)]  # self-loop + dup edges
    edges = spark.createDataFrame(E, "src long, dst long")
    nodes = spark.createDataFrame(
        [(i,) for i in range(320)], "node long")  # 300..319 isolated-ish
    a = {(r.node, r.component) for r in connected_components(
        edges, nodes=nodes).collect()}
    b = {(r.node, r.component) for r in _minlabel_components(
        edges, nodes=nodes, max_iter=60).collect()}
    assert a == b


def test_cc_star_equals_minlabel_on_dedup_family_pairs(spark):
    """The verdict-5 pin: every dedup family's pair output clusters
    identically under the star engine (dup_clusters' engine) and the
    min-label reference — the no-regression contract."""
    from lindel_spark import dedup as LD
    from lindel_spark import similarity as LS
    from lindel_spark import text as LT
    from lindel_spark.graph import connected_components
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet")
    fams = {
        "minhash": LD.near_dup_pairs(docs).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        "simhash": LD.simhash_near_dup_pairs(docs).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        "winnow": LT.winnow_near_dup_pairs(docs).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        "embedding": LS.embedding_near_dup_pairs(emb).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
    }
    for name, pairs in fams.items():
        a = {(r.node, r.component) for r in connected_components(
            pairs).collect()}
        b = {(r.node, r.component) for r in _minlabel_components(
            pairs).collect()}
        assert a == b, f"{name}: star != minlabel"


def test_triangle_count_known_graph(spark):
    """K4 minus one edge: two triangles sharing an edge — shared
    corners credited twice, each triangle found exactly once; dup
    edges / self-loops / reversed orientation are canonicalized."""
    from lindel_spark.graph import triangle_count
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (1, 3), (3, 4), (2, 4), (2, 2)],
        "src long, dst long")
    # triangles: {1,2,3} and {2,3,4}
    got = {r.node: r.triangles for r in triangle_count(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_triangle_count_triangle_free(spark):
    from lindel_spark.graph import triangle_count
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long")
    assert triangle_count(edges).count() == 0


def test_bfs_distances_path_graph_bounded(spark):
    from lindel_spark.graph import bfs_distances

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long")
    srcs = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.dist
           for r in bfs_distances(edges, srcs, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # 4,5 beyond the bound


def test_bfs_distances_multi_source_min_and_directed(spark):
    from lindel_spark.graph import bfs_distances

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 2)], "src long, dst long")
    srcs = spark.createDataFrame([(0,), (10,)], "node long")
    und = {r.node: r.dist
           for r in bfs_distances(edges, srcs, max_hops=4).collect()}
    assert und[2] == 1  # via 10, not 2 via 0
    assert und[3] == 2
    # directed: edge 10->2 only; node 10 unreachable FROM 0
    d = {r.node: r.dist
         for r in bfs_distances(edges,
                                spark.createDataFrame([(0,)], "node long"),
                                max_hops=4, directed=True).collect()}
    assert d == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_distances_validates(spark):
    import pytest

    from lindel_spark.graph import bfs_distances

    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    s = spark.createDataFrame([(0,)], "node long")
    with pytest.raises(ValueError):
        bfs_distances(e, s, max_hops=0)


def test_lpa_two_cliques_converge(spark):
    """Two 4-cliques joined by one bridge edge: after a few rounds
    each clique shares one label and the two labels differ."""
    from lindel_spark.graph import label_propagation_communities

    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a + 10, b + 10) for a in range(4) for b in range(4) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], ["src", "dst"])
    out = {r.node: r.label
           for r in label_propagation_communities(
               edges, rounds=4).collect()}
    lab1 = {out[n] for n in range(4)}
    lab2 = {out[n + 10] for n in range(4)}
    assert len(lab1) == 1 and len(lab2) == 1
    assert lab1 != lab2


def test_lpa_deterministic_tiebreak(spark):
    """A path a-b-c: b's neighbors carry two labels with equal count;
    the smaller label must win every time."""
    from lindel_spark.graph import label_propagation_communities

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {r.node: r.label
           for r in label_propagation_communities(
               edges, rounds=1).collect()}
    assert out[2] == 1  # tie between labels 1 and 3 -> smallest
    assert out[1] == 2 and out[3] == 2  # their only neighbor


def test_lpa_validations_and_repartition_stability(spark):
    from lindel_spark.graph import label_propagation_communities

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["src", "dst"])
    a = sorted((r.node, r.label) for r in
               label_propagation_communities(edges, rounds=3).collect())
    b = sorted((r.node, r.label) for r in
               label_propagation_communities(
                   edges.repartition(7), rounds=3).collect())
    assert a == b
    import pytest as _p
    with _p.raises(ValueError):
        label_propagation_communities(edges, rounds=0)


def test_triangle_count_bit_identity_vs_idordered(spark):
    """Degree-ordered default matches the round-11 id-ordered
    formulation exactly on K4, a path, and a deterministic
    pseudo-random graph."""
    from lindel_spark.graph import triangle_count, _triangle_count_idordered

    def as_map(df):
        return {r.node: r.triangles for r in df.collect()}

    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b],
        "src long, dst long")
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "src long, dst long")
    rnd = spark.createDataFrame(
        [((i * 7919) % 23, (i * 104729 + 3) % 23) for i in range(120)],
        "src long, dst long")
    for g in (k4, path, rnd):
        assert as_map(triangle_count(g)) == as_map(_triangle_count_idordered(g))


def test_triangle_count_skewed_hub_wedge_reduction(spark):
    """Star(1 hub, 40 leaves) + 3 triangles through the hub: the hub
    as a middle node yields ~deg^2 id-ordered wedges, while degree
    orientation enumerates wedges only at low-degree corners —
    assert the oriented wedge volume is a small fraction, and counts
    still agree."""
    from pyspark.sql import functions as F
    from lindel_spark.graph import (
        triangle_count, _triangle_count_idordered,
        _canonical_edges, _degree_oriented)

    # hub id 50 sits BETWEEN its leaves' ids, so id-canonicalized
    # edges put it in the wedge-middle position (a < 50 < c)
    rows = [(i, 50) for i in range(1, 41)]         # 40 low leaves
    rows += [(50, i) for i in range(60, 101)]      # 41 high leaves
    rows += [(1, 60), (2, 61), (3, 62)]            # close 3 triangles at hub
    edges = spark.createDataFrame(rows, "src long, dst long")
    e = _canonical_edges(edges, "src", "dst")

    id_wedges = (e.alias("e1")
                 .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
                 .count())
    o = _degree_oriented(e)
    or_wedges = (o.alias("e1")
                 .join(o.alias("e2"),
                       (F.col("e1.s") == F.col("e2.s"))
                       & (F.struct(F.col("e1.dd"), F.col("e1.d"))
                          < F.struct(F.col("e2.dd"), F.col("e2.d"))))
                 .count())
    assert or_wedges * 5 < id_wedges, (or_wedges, id_wedges)

    got = {r.node: r.triangles for r in triangle_count(edges).collect()}
    ref = {r.node: r.triangles
           for r in _triangle_count_idordered(edges).collect()}
    assert got == ref
    assert got[50] == 3  # hub is a corner of all three triangles


def test_degree_profile_hand_computed(spark):
    from lindel_spark.graph import degree_profile
    # star: hub 0 with 3 leaves, plus edge (1,2) — degrees: 0:3, 1:2,
    # 2:2, 3:1; dup/reversed edges canonicalize away
    edges = spark.createDataFrame(
        [(0, 1), (1, 0), (0, 2), (0, 3), (1, 2)], "src long, dst long")
    got = {r.degree: (r.n_nodes, r.wedges)
           for r in degree_profile(edges).collect()}
    assert got == {3: (1, 3), 2: (2, 2), 1: (1, 0)}


def test_kcore_hand_computed_k4_with_tail(spark):
    """K4 + a pendant path 4-5-6: with k=3 the path peels off one
    node per round (cascade) and exactly the K4 survives with
    within-core degree 3."""
    from lindel_spark.graph import kcore
    rows = [(a, b) for a in range(4) for b in range(4) if a < b]
    rows += [(3, 4), (4, 5), (5, 6)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    got = {r.node: r.degree for r in kcore(edges, k=3, rounds=4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k=2: the whole path still dies (ends have degree 1, cascading),
    # K4 survives with degree 3
    got2 = {r.node: r.degree
            for r in kcore(edges, k=2, rounds=4).collect()}
    assert got2 == {0: 3, 1: 3, 2: 3, 3: 3}
    # k=5 > max degree: empty
    assert kcore(edges, k=5, rounds=2).count() == 0


def test_kcore_bounded_rounds_contract(spark):
    """A 6-node path with k=2 peels one end-node per round from each
    side: after r rounds exactly 6-2r nodes remain — the fixed-round
    contract the SQL oracle unrolls."""
    from lindel_spark.graph import kcore
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long")
    assert kcore(edges, k=2, rounds=1).count() == 4
    assert kcore(edges, k=2, rounds=2).count() == 2
    assert kcore(edges, k=2, rounds=3).count() == 0
    import pytest as _p
    with _p.raises(ValueError):
        kcore(edges, k=0)
    with _p.raises(ValueError):
        kcore(edges, k=2, rounds=0)


def test_modularity_two_cliques_hand_computed(spark):
    """Two triangles bridged by one edge, communities = the cliques:
    m=7, m_in=3 each, d_c=7 each -> q_c = 3/7 - (7/14)^2 per side,
    Q = 2*q_c ~ 0.357. A single all-in community scores exactly 0."""
    from lindel_spark.graph import modularity
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        "src long, dst long")
    comm = spark.createDataFrame(
        [(i, "A" if i < 3 else "B") for i in range(6)],
        "node string, label string")
    comm = comm.selectExpr("CAST(node AS LONG) AS node", "label")
    got = {r.label: r for r in modularity(edges, comm).collect()}
    expect = 3.0 / 7.0 - (7.0 / 14.0) ** 2
    for lbl in ("A", "B"):
        assert got[lbl].n_nodes == 3 and got[lbl].m_in == 3
        assert got[lbl].d_c == 7
        assert abs(got[lbl].q_c - expect) < 1e-12
    one = spark.createDataFrame([(i, "X") for i in range(6)],
                                "node long, label string")
    q = modularity(edges, one).collect()
    assert len(q) == 1 and abs(q[0].q_c) < 1e-12
