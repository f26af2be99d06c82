"""Round-14 graph additions: sampled-source betweenness centrality.

Hand-computed fixtures pin Brandes' dependency accumulation
(star / path / bridge-square), shortest-path multiplicity splitting,
the depth bound, directedness, source exclusion (a source never
accumulates from its OWN BFS but still brokers other sources'), and
checkpoint parity.
"""

import pytest
from pyspark.sql import functions as F

from lindel_spark.graph import betweenness_centrality


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _srcs(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def _bc(df):
    return {r.node: round(r.betweenness, 9) for r in df.collect()}


def test_star_center_brokers_everything(spark):
    # center 0, leaves 1..4; all sources, depth 2: from each leaf the
    # other 3 leaves route through 0 -> delta_s(0)=3, total 4*3=12
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [0, 1, 2, 3, 4]),
                                    max_depth=2))
    assert bc == {0: 12.0, 1: 0.0, 2: 0.0, 3: 0.0, 4: 0.0}


def test_path_graph_matches_ordered_pair_counts(spark):
    # 1-2-3-4: node 2 lies on ordered pairs (1,3),(1,4),(3,1),(4,1)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [1, 2, 3, 4]),
                                    max_depth=3))
    assert bc == {1: 0.0, 2: 4.0, 3: 4.0, 4: 0.0}


def test_square_splits_dependency_over_equal_paths(spark):
    # 1-2-4 and 1-3-4 are both shortest (sigma_4 = 2): each middle
    # node gets delta = sigma_v/sigma_w = 1/2 from source 1
    e = _edges(spark, [(1, 2), (1, 3), (2, 4), (3, 4)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [1]), max_depth=2))
    assert bc == {2: 0.5, 3: 0.5, 4: 0.0}


def test_depth_bound_truncates_reach_and_dependency(spark):
    # depth 2 from source 1 on 1-2-3-4: node 4 never reached, so
    # node 3 stops brokering and node 2 only carries the (1,3) pair
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [1]), max_depth=2))
    assert bc == {2: 1.0, 3: 0.0}


def test_directed_edges_respected(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [1]), max_depth=2,
                                    directed=True))
    assert bc == {2: 1.0, 3: 0.0}
    # reversed direction: nothing reachable from 1 at all
    assert _bc(betweenness_centrality(
        _edges(spark, [(2, 1), (3, 2)]), _srcs(spark, [1]),
        max_depth=2, directed=True)) == {}


def test_source_still_brokers_other_sources_paths(spark):
    # sources {1,2} on 1-2-3: node 2 is excluded from its OWN BFS but
    # carries s=1's pair (1,3); node 1 is reached by s=2 with delta 0
    e = _edges(spark, [(1, 2), (2, 3)])
    bc = _bc(betweenness_centrality(e, _srcs(spark, [1, 2]),
                                    max_depth=2))
    assert bc == {1: 0.0, 2: 1.0, 3: 0.0}


def test_bridge_between_cliques(spark):
    # two triangles joined by a bridge node 9: 1-2-3 and 4-5-6 with
    # 3-9, 9-4; sources = all 7 nodes, depth 3 reaches across
    e = _edges(spark, [(1, 2), (2, 3), (1, 3),
                       (4, 5), (5, 6), (4, 6),
                       (3, 9), (9, 4)])
    bc = _bc(betweenness_centrality(
        e, _srcs(spark, [1, 2, 3, 4, 5, 6, 9]), max_depth=3))
    # 9 carries every cross pair reachable in <=3 hops:
    # (3,4),(3,5),(3,6),(1,4),(2,4) and mirrors -> delta sums:
    # from s=3: 9 brokers {4,5,6} = 3; from s=1: {9->4} pairs (1,4)
    # only (5,6 are 4 hops); same s=2; mirrored from s=4,5,6.
    assert bc[9] == 3.0 + 1.0 + 1.0 + 3.0 + 1.0 + 1.0
    assert bc[1] == 0.0 and bc[5] == 0.0


def test_rejects_bad_depth(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        betweenness_centrality(e, _srcs(spark, [1]), max_depth=0)


# ---- harmonic centrality ------------------------------------------

from lindel_spark.graph import harmonic_centrality


def _hc(df):
    return {r.node: round(r.harmonic, 9) for r in df.collect()}


def test_harmonic_star(spark):
    # center 0 gets 1/1 from each leaf; each leaf gets 1 from the
    # center + 1/2 from the 3 other leaves
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
    hc = _hc(harmonic_centrality(e, _srcs(spark, [0, 1, 2, 3, 4]),
                                 max_depth=2))
    assert hc[0] == 4.0
    for leaf in (1, 2, 3, 4):
        assert hc[leaf] == 2.5


def test_harmonic_path_and_depth_bound(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    hc = _hc(harmonic_centrality(e, _srcs(spark, [1, 2, 3, 4]),
                                 max_depth=3))
    assert hc[2] == pytest.approx(1 + 1 + 0.5)
    assert hc[1] == pytest.approx(1 + 0.5 + 1 / 3)
    assert hc[3] == pytest.approx(2.5)
    # depth 1: only direct neighbors count
    hc1 = _hc(harmonic_centrality(e, _srcs(spark, [1, 2, 3, 4]),
                                  max_depth=1))
    assert hc1[2] == 2.0 and hc1[1] == 1.0


def test_harmonic_directed_and_unreached_absent(spark):
    e = _edges(spark, [(1, 2), (2, 3)])
    hc = _hc(harmonic_centrality(e, _srcs(spark, [1, 2, 3]),
                                 max_depth=2, directed=True))
    # node 1 is never reached along edge direction -> absent
    assert 1 not in hc
    assert hc[2] == 1.0
    assert hc[3] == pytest.approx(1 + 0.5)


def test_harmonic_rejects_bad_depth(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    with pytest.raises(ValueError):
        harmonic_centrality(e, _srcs(spark, [1]), max_depth=0)


# ---- degree assortativity ------------------------------------------

from lindel_spark.graph import degree_assortativity


def test_assortativity_star_is_maximally_negative(spark):
    # star: every edge joins the hub (deg 4) to a leaf (deg 1) -> -1
    e = _edges(spark, [(0, 1), (0, 2), (0, 3), (0, 4)])
    r = degree_assortativity(e).collect()[0]
    assert r.n_edges == 8  # symmetrized
    assert r.r == pytest.approx(-1.0, abs=1e-12)


def test_assortativity_cycle_degenerate_null(spark):
    # cycle: all degrees equal -> zero variance -> NULL
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    r = degree_assortativity(e).collect()[0]
    assert r.r is None


def test_assortativity_matches_numpy(spark):
    import numpy as np
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 5), (1, 6),
             (6, 7), (7, 8), (2, 8), (3, 8)]
    e = _edges(spark, pairs)
    got = degree_assortativity(e).collect()[0]
    sym = pairs + [(b, a) for a, b in pairs]
    deg = {}
    for a, b in sym:
        deg[a] = deg.get(a, 0) + 1
    xs = np.array([deg[a] for a, b in sym], float)
    ys = np.array([deg[b] for a, b in sym], float)
    want = np.corrcoef(xs, ys)[0, 1]
    assert got.r == pytest.approx(want, abs=1e-12)


def test_assortativity_directed_out_in_keeps_sink_edges(spark):
    # directed 1->2, 1->3: out-deg(1)=2, in-deg(2)=in-deg(3)=1; both
    # edges kept even though 2 and 3 have no out-edges
    e = _edges(spark, [(1, 2), (1, 3)])
    r = degree_assortativity(e, directed=True).collect()[0]
    assert r.n_edges == 2
    assert r.r is None  # zero variance on both ends -> NULL
    # a mixed case with real variance matches numpy's out-in corr
    import numpy as np
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 1), (2, 4)]
    g = degree_assortativity(_edges(spark, pairs),
                             directed=True).collect()[0]
    assert g.n_edges == 6
    dout, din = {}, {}
    for a, b in pairs:
        dout[a] = dout.get(a, 0) + 1
        din[b] = din.get(b, 0) + 1
    xs = np.array([dout[a] for a, b in pairs], float)
    ys = np.array([din[b] for a, b in pairs], float)
    want = np.corrcoef(xs, ys)[0, 1]
    assert g.r == pytest.approx(want, abs=1e-12)
