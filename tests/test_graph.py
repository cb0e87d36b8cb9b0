"""Graph operator tests on hand-built trade graphs (the oracle sweep
covers the real tables; these pin semantics on known topologies)."""

from __future__ import annotations

import pyspark.sql.functions as F

from hadoop_coded_wordcount_spark.operators import graph as gr


def _trade(spark, pairs):
    """orders/lineitem frames realizing the given (custkey, suppkey)
    co-occurrence pairs, one synthetic order per pair."""
    orders = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(pairs)],
        "o_orderkey bigint, o_custkey bigint",
    )
    lineitem = spark.createDataFrame(
        [(i, s) for i, (_, s) in enumerate(pairs)],
        "l_orderkey bigint, l_suppkey bigint",
    )
    return orders, lineitem


def test_bfs_depths_hand_graph(spark):
    # customers 1,2,3; suppliers 10,20:  1-10, 2-10, 2-20, 3-20
    # from customer 1: s10 at 1, c2 at 2, s20 at 3, c3 at 4
    orders, lineitem = _trade(spark, [(1, 10), (2, 10), (2, 20), (3, 20)])
    got = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.bfs_depths(orders, lineitem, seed_custkey=1).collect()
    }
    assert got == {
        ("customer", 1): 0,
        ("supplier", 10): 1,
        ("customer", 2): 2,
        ("supplier", 20): 3,
        ("customer", 3): 4,
    }


def test_bfs_depths_early_stop_and_unreachable(spark):
    # two disconnected components; BFS from customer 1 must stop after
    # exhausting its component and never emit the other
    orders, lineitem = _trade(spark, [(1, 10), (5, 50)])
    got = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.bfs_depths(
            orders, lineitem, seed_custkey=1, max_hops=10
        ).collect()
    }
    assert got == {("customer", 1): 0, ("supplier", 10): 1}


def test_bfs_depths_hop_cap(spark):
    orders, lineitem = _trade(spark, [(1, 10), (2, 10), (2, 20), (3, 20)])
    got = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.bfs_depths(
            orders, lineitem, seed_custkey=1, max_hops=2
        ).collect()
    }
    assert max(got.values()) == 2 and ("supplier", 20) not in got


def test_degree_distribution_hand_graph(spark):
    # c1-{s10}, c2-{s10,s20}, c3-{s20}: degrees c:{1:2, 2:1}, s:{2:2}
    orders, lineitem = _trade(spark, [(1, 10), (2, 10), (2, 20), (3, 20)])
    got = {
        (r.node_type, r.degree): r.n_nodes
        for r in gr.degree_distribution(orders, lineitem).collect()
    }
    assert got == {
        ("customer", 1): 2,
        ("customer", 2): 1,
        ("supplier", 2): 2,
    }


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src bigint, dst bigint"
    )


def test_triangle_count_hand_graphs(spark):
    # K3: one triangle, 3 wedges? No — orientation yields exactly 1 wedge
    # per triangle (at its (deg,id)-min vertex), and it closes.
    k3 = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    r = gr.triangle_count(k3).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)
    # K4: C(4,3)=4 triangles, C(4,2)=6 edges.
    k4 = _edges(spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    r = gr.triangle_count(k4).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    # star (no triangle): hub 1 to leaves 2..5 + one leaf-leaf edge → 1.
    star = _edges(spark, [(1, 2), (1, 3), (1, 4), (1, 5)])
    assert gr.triangle_count(star).collect()[0].n_triangles == 0
    plus = _edges(spark, [(1, 2), (1, 3), (1, 4), (1, 5), (2, 3)])
    assert gr.triangle_count(plus).collect()[0].n_triangles == 1


def test_triangle_count_matches_bruteforce(spark):
    """Degree-oriented count == brute-force 3-clique enumeration on the
    real kNN graph — the orientation must not lose or double-count."""
    from hadoop_coded_wordcount_spark.sources.catalog import load_table
    from conftest import SF001

    edges = gr.supplier_knn_graph(load_table(spark, SF001, "lineitem"))
    e = edges.persist()
    a, b, c = e.alias("a"), e.alias("b"), e.alias("c")
    brute = (
        a.join(b, F.col("a.src") == F.col("b.src"))
        .where(F.col("a.dst") < F.col("b.dst"))
        .join(
            c,
            (F.col("c.src") == F.col("a.dst"))
            & (F.col("c.dst") == F.col("b.dst")),
        )
        .count()
    )
    got = gr.triangle_count(e).collect()[0]
    assert got.n_triangles == brute and got.n_triangles > 0


def test_knn_graph_is_degree_bounded_and_layout_invariant(spark):
    from hadoop_coded_wordcount_spark.sources.catalog import load_table
    from conftest import SF001

    li = load_table(spark, SF001, "lineitem")
    e1 = sorted(map(tuple, gr.supplier_knn_graph(li).collect()))
    e2 = sorted(map(tuple, gr.supplier_knn_graph(li.repartition(17)).collect()))
    assert e1 == e2 and len(e1) > 0
    # each node CONTRIBUTES <= 3 kept edges, so |E| <= k|V| even though a
    # popular node's own degree can exceed k (others keep edges to it)
    n_nodes = len({v for e in e1 for v in e})
    assert len(e1) <= 3 * n_nodes


def test_k_core_triangle_with_pendants(spark):
    """Triangle + pendant chain: the 2-core is exactly the triangle, and
    every pendant is peeled (chain peeling needs MULTIPLE rounds — the
    fixpoint loop, not a single degree filter)."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)])
    got = {(r.v, r.core_degree) for r in gr.k_core(e, k=2).collect()}
    assert got == {(1, 2), (2, 2), (3, 2)}


def test_k_core_k3_empty_and_deterministic(spark):
    """The same graph has no 3-core (empty, no crash); k=1 keeps all."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 6)])
    assert gr.k_core(e, k=3).count() == 0
    assert gr.k_core(e, k=1).count() == 6


def test_k_core_raises_past_max_rounds(spark):
    """A long chain peels one layer per round from each end; with
    max_rounds too small the operator must RAISE, never return a
    non-fixpoint."""
    import pytest

    chain = _edges(spark, [(i, i + 1) for i in range(1, 12)])
    with pytest.raises(RuntimeError, match="not converged"):
        gr.k_core(chain, k=2, max_rounds=2)
    # with enough rounds the chain's 2-core is empty
    assert gr.k_core(chain, k=2, max_rounds=12).count() == 0


def test_cooccurrence_graph_threshold_and_invariance(spark):
    from conftest import SF001

    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    li = load_table(spark, SF001, "lineitem")
    e30 = sorted(map(tuple, gr.supplier_cooccurrence_graph(li, 30).collect()))
    e30b = sorted(
        map(
            tuple,
            gr.supplier_cooccurrence_graph(li.repartition(13), 30).collect(),
        )
    )
    assert e30 == e30b and len(e30) > 0
    # monotone: a higher threshold can only lose edges
    e34 = set(map(tuple, gr.supplier_cooccurrence_graph(li, 34).collect()))
    assert e34 <= set(e30)


def test_personalized_pagerank_seed_concentration(spark):
    """All teleport mass returns to the seed: the seed customer must
    outrank every other customer, and an empty graph returns empty."""
    from conftest import SF001

    from hadoop_coded_wordcount_spark.sources.catalog import load_table

    orders = load_table(spark, SF001, "orders")
    lineitem = load_table(spark, SF001, "lineitem")
    ranks = gr.personalized_pagerank(orders, lineitem, seed_custkey=1)
    custs = {
        r.entity_key: r.rank_scaled
        for r in ranks.where(F.col("node_type") == "customer").collect()
    }
    assert custs and custs[1] == max(custs.values())

    empty_o = orders.where(F.lit(False))
    empty_l = lineitem.where(F.lit(False))
    assert gr.personalized_pagerank(empty_o, empty_l).count() == 0


def _trade_w(spark, triples):
    """orders/lineitem realizing weighted (custkey, suppkey, qty) links,
    one synthetic order per triple."""
    orders = spark.createDataFrame(
        [(i, c) for i, (c, _, _) in enumerate(triples)],
        "o_orderkey bigint, o_custkey bigint",
    )
    lineitem = spark.createDataFrame(
        [(i, s, float(q)) for i, (_, s, q) in enumerate(triples)],
        "l_orderkey bigint, l_suppkey bigint, l_quantity double",
    )
    return orders, lineitem


def test_sssp_weighted_prefers_cheap_detour(spark):
    # direct hop c1-s10 costs 9; detour c1-s20(1) -> c2(1) -> s10(1)
    # costs 3 — weighted SSSP must take the detour where BFS would not.
    # duplicate c1-s20 links (qty 5 and 1) pin the MIN edge weight.
    triples = [
        (1, 10, 9),
        (1, 20, 5),
        (1, 20, 1),
        (2, 20, 1),
        (2, 10, 1),
    ]
    orders, lineitem = _trade_w(spark, triples)
    got = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.sssp_weighted(
            orders, lineitem, seed_custkey=1, n_rounds=4
        ).collect()
    }
    assert got == {
        ("customer", 1): 0,
        ("supplier", 20): 1,
        ("customer", 2): 2,
        ("supplier", 10): 3,
    }


def test_sssp_weighted_round_bound_and_early_stop(spark):
    # chain c1 -s10- c2 -s20- c3, unit weights: within 2 rounds only
    # nodes ≤2 edges away settle; a generous round budget stops early at
    # the fixpoint and yields the full component with exact distances.
    triples = [(1, 10, 1), (2, 10, 1), (2, 20, 1), (3, 20, 1)]
    orders, lineitem = _trade_w(spark, triples)
    two = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.sssp_weighted(
            orders, lineitem, seed_custkey=1, n_rounds=2
        ).collect()
    }
    assert two == {
        ("customer", 1): 0,
        ("supplier", 10): 1,
        ("customer", 2): 2,
    }
    full = {
        (r.node_type, r.entity_key): r.dist
        for r in gr.sssp_weighted(
            orders, lineitem, seed_custkey=1, n_rounds=50
        ).collect()
    }
    assert full == {
        ("customer", 1): 0,
        ("supplier", 10): 1,
        ("customer", 2): 2,
        ("supplier", 20): 3,
        ("customer", 3): 4,
    }


def test_degree_assortativity_known_topologies(spark):
    """A star is maximally disassortative (r = -1: every edge links the
    hub to a leaf); a 4-cycle is degree-regular and the correlation is
    degenerate (NULL denominator -> None)."""
    # star: customer 1 trades with suppliers 10,20,30 (hub deg 3, leaves 1)
    orders, lineitem = _trade(spark, [(1, 10), (1, 20), (1, 30)])
    row = gr.degree_assortativity(orders, lineitem).collect()[0]
    assert row.n_edges == 6  # 3 undirected links, both directions
    assert row.assortativity == -1.0
    # 4-cycle: c1-s10, s10-c2, c2-s20, s20-c1 — all degrees equal
    orders, lineitem = _trade(spark, [(1, 10), (2, 10), (2, 20), (1, 20)])
    row = gr.degree_assortativity(orders, lineitem).collect()[0]
    assert row.n_edges == 8
    assert row.assortativity is None  # zero variance on both endpoints


def test_hits_authority_orders_by_buyer_mass(spark):
    """Supplier 10 has two buyers, supplier 20 one — s10's authority
    strictly dominates. Hand trace of the integer recurrence (S = scale):
    a1 = (2S, S) -> norm /2 -> (S, S/2); h1 = (S, 1.5S) -> divisor
    floor(1.5)=1 -> unchanged; a2 = (2.5S, 1.5S) -> divisor floor(2.5)=2
    -> (1.25S, 0.75S)."""
    orders, lineitem = _trade(spark, [(1, 10), (2, 10), (2, 20)])
    got = gr.hits_ranking(orders, lineitem).collect()
    assert [r.s_suppkey for r in got] == [10, 20]
    assert got[0].auth_scaled == gr.PR_SCALE * 5 // 4
    assert got[1].auth_scaled == gr.PR_SCALE * 3 // 4


def test_modularity_two_cliques_is_half(spark):
    """Two disconnected same-nation pairs: e_c/m = 1/2 and
    (d_c/2m)^2 = 1/4 for each community -> Q = 0.5 exactly."""
    # suppliers 1,2 (nation 0) share order 100; suppliers 3,4 (nation 1)
    # share order 200.
    lineitem = spark.createDataFrame(
        [(100, 1), (100, 2), (200, 3), (200, 4)],
        "l_orderkey bigint, l_suppkey bigint",
    )
    supplier = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)],
        "s_suppkey bigint, s_nationkey int",
    )
    nation = spark.createDataFrame(
        [(0, "A"), (1, "B")], "n_nationkey int, n_name string"
    )
    got = gr.modularity_by_nation(
        lineitem, supplier, nation, min_shared=1
    ).collect()
    assert {r.n_name: r.q_term for r in got} == {"A": 0.25, "B": 0.25}
    assert all(r.modularity == 0.5 for r in got)
    assert all(r.intra_edges == 1 and r.degree_sum == 2 for r in got)


def test_modularity_anti_community_is_negative(spark):
    """All edges cross the partition: e_c = 0 for both communities, so
    Q = -(sum of squared degree shares) < 0."""
    lineitem = spark.createDataFrame(
        [(100, 1), (100, 2), (200, 3), (200, 4)],
        "l_orderkey bigint, l_suppkey bigint",
    )
    supplier = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 0), (4, 1)],
        "s_suppkey bigint, s_nationkey int",
    )
    nation = spark.createDataFrame(
        [(0, "A"), (1, "B")], "n_nationkey int, n_name string"
    )
    got = gr.modularity_by_nation(
        lineitem, supplier, nation, min_shared=1
    ).collect()
    assert all(r.intra_edges == 0 for r in got)
    assert all(r.modularity == -0.5 for r in got)


def test_clustering_coefficient_triangle_with_pendant(spark):
    """K3 plus a pendant off node 3: cc(1)=cc(2)=1 (their whole
    neighborhood is closed), cc(3)=2*1/(3*2)=1/3, pendant cc=0."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    got = {r.node: (r.degree, r.triangles, r.cc)
           for r in gr.local_clustering_coefficient(e).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(1 / 3, 6))
    assert got[4] == (1, 0, 0.0)


def test_clustering_coefficient_k4_all_one(spark):
    """Complete K4: every node sits in 3 of the 4 triangles and has
    degree 3 -> cc = 2*3/(3*2) = 1 everywhere."""
    e = _edges(spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    got = gr.local_clustering_coefficient(e).collect()
    assert len(got) == 4
    assert all(r.cc == 1.0 and r.triangles == 3 for r in got)


def test_adamic_adar_weights_rare_neighbor_higher(spark):
    """Pairs (1,2) share low-degree z=10 (d=2); pairs (3,4) share hub
    z=20 (d=4): AA must rank (1,2) above (3,4); both Jaccard-tie."""
    e = _edges(
        spark,
        [(1, 10), (2, 10), (3, 20), (4, 20), (5, 20), (6, 20)],
    )
    got = gr.adamic_adar(e).collect()
    scores = {(r.u, r.v): r.aa_score for r in got}
    aa_12 = scores[(1, 2)]
    aa_34 = scores[(3, 4)]
    assert aa_12 == round(1 / __import__("math").log(2), 6)
    assert aa_34 == round(1 / __import__("math").log(4), 6)
    assert aa_12 > aa_34


def test_adamic_adar_excludes_adjacent_pairs(spark):
    """Closed triangle: every 2-path endpoint pair is already an edge,
    so no candidate survives the anti-join."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3)])
    assert gr.adamic_adar(e).collect() == []


def test_k_truss_peels_pendants_and_keeps_triangles(spark):
    """Triangle + pendant chain: the 3-truss is exactly the triangle
    (every edge in 1 triangle); the pendant edges peel away."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)])
    got = {(r.src, r.dst): r.support for r in gr.k_truss(e, k=3).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_k_truss_star_is_empty_and_k4_survives(spark):
    """A star has no triangles -> empty 3-truss; K4's edges each sit in
    2 triangles -> the whole K4 survives k=4."""
    star = _edges(spark, [(1, 2), (1, 3), (1, 4), (1, 5)])
    assert gr.k_truss(star, k=3).collect() == []
    k4 = _edges(spark, [(a, b) for a in range(1, 5) for b in range(a + 1, 5)])
    got = gr.k_truss(k4, k=4).collect()
    assert len(got) == 6 and all(r.support == 2 for r in got)


def test_k_truss_bridge_between_triangles_peels(spark):
    """Two disjoint triangles joined by a bridge edge: the bridge sits
    in no triangle and peels; both triangles survive intact — and the
    re-count after peeling leaves their supports at 1."""
    e = _edges(
        spark,
        [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
    )
    got = {(r.src, r.dst): r.support for r in gr.k_truss(e, k=3).collect()}
    assert (3, 4) not in got
    assert len(got) == 6 and all(v == 1 for v in got.values())


def test_k_truss_k2_keeps_triangle_free_edges(spark):
    """A 2-truss keeps every edge: the pendant (3,4) lies in no
    triangle, so it is kept with support 0, not dropped."""
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)])
    got = {(r.src, r.dst): r.support for r in gr.k_truss(e, k=2).collect()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 0}


def test_k_truss_raises_past_max_rounds(spark):
    """Triangles (1,2,3) and (1,2,5) share the edge (1,2): at k=4 the
    four outer edges peel in round 1, which leaves (1,2) with support 0
    to peel in round 2, and round 3 confirms the empty fixpoint. With
    max_rounds too small the operator must RAISE, never return a
    non-fixpoint."""
    import pytest

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (1, 5), (2, 5)])
    with pytest.raises(RuntimeError, match="not converged"):
        gr.k_truss(e, k=4, max_rounds=1)
    with pytest.raises(RuntimeError, match="not converged"):
        gr.k_truss(e, k=4, max_rounds=2)
    assert gr.k_truss(e, k=4, max_rounds=3).collect() == []


def test_landmark_bfs_path_graph_distances(spark):
    """Path graph c1—s1—c2—s2—c3 (via shared orders): landmark
    customers 1 and 2 must see exact hop distances along the path, and
    every landmark reaches itself at distance 0."""
    from hadoop_coded_wordcount_spark.operators import graph as gr

    # orders: order k belongs to customer k; lineitem links order k to
    # suppliers forming the chain c1-s1-c2-s2-c3
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, None, "x"), (2, 2, "O", 1.0, None, "x"),
         (3, 3, "O", 1.0, None, "x"), (4, 4, "O", 1.0, None, "x")],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    lines = [
        (1, 1, 1, 1),  # c1 - s1
        (2, 1, 1, 2),  # c2 - s1
        (2, 2, 2, 2),  # c2 - s2
        (3, 2, 3, 3),  # c3 - s2
    ]
    lineitem = spark.createDataFrame(
        [(ok, 1, sk, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", None)
         for ok, sk, ln, _ in lines],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    got = {r.node: r for r in gr.landmark_bfs(orders, lineitem).collect()}
    c1, c2 = got[2], got[4]          # customer nodes = 2*custkey
    s1 = got[3]                      # supplier node = 2*suppkey+1
    assert c1.d0 == 0 and c2.d1 == 0
    assert s1.d0 == 1 and s1.d1 == 1         # s1 adjacent to both c1, c2
    assert c1.d1 == 2 and c2.d0 == 2         # c1 <-> c2 via s1
    # harmonic of s1 from landmarks {c1:1, c2:1, c3? unreached beyond}:
    # terms 1/1 + 1/1 + 1/d2 + 0; d2 = dist(c3? lm2 = customer 3) = 1? no:
    # s2 links c2,c3; s1 to c3 = s1-c2-s2-c3 = 3 hops
    assert s1.d2 == 3
    assert s1.harmonic == round(1.0 + 1.0 + 1.0 / 3.0, 6)
