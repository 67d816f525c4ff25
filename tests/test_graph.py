"""Integer-exact PageRank (operators/graph.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import graph


def _mirror(edges: list[tuple[int, int]], iters: int = 3) -> dict[int, int]:
    """Driver-side mirror of the exact BIGINT arithmetic."""
    nodes = {n for e in edges for n in e}
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    for _ in range(iters):
        contrib: dict[int, int] = {}
        for s, d in edges:
            contrib[d] = contrib.get(d, 0) + r[s] // outdeg[s]
        r = {n: 150_000 + (85 * contrib.get(n, 0)) // 100 for n in nodes}
    return r


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.id: r.rank_e6 for r in graph.pagerank(df).collect()}


def test_cycle_is_stationary(spark):
    edges = [(1, 2), (2, 3), (3, 1)]
    assert _run(spark, edges) == {1: 1_000_000, 2: 1_000_000, 3: 1_000_000}


def test_star_matches_integer_mirror(spark):
    # hub 0 pointed at by 1..5, hub points back at 1 — asymmetric ranks
    edges = [(i, 0) for i in range(1, 6)] + [(0, 1)]
    assert _run(spark, edges) == _mirror(edges)
    # ...and the hub outranks the spokes
    got = _run(spark, edges)
    assert got[0] > got[2]


def test_multi_cycle_graph_matches_integer_mirror(spark):
    edges = [(i, (i * 3 + 1) % 7) for i in range(7) for _ in range(1)] + [
        (0, 5),
        (5, 0),
        (2, 6),
    ]
    assert _run(spark, edges) == _mirror(edges)


def test_dangling_nodes_keep_base_rank(spark):
    # node 9 has only in-edges: it accumulates, contributes nothing;
    # node 1's rank after its source mass leaves is the base term
    edges = [(1, 9), (2, 9)]
    got = _run(spark, edges)
    mirror = _mirror(edges)
    assert got == mirror
    assert got[1] == 150_000  # pure base: nothing points at 1


def test_copurchase_edges_symmetric_and_disjoint(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    e = graph.copurchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    ).cache()
    n = e.count()
    assert n > 0 and n % 2 == 0
    # every edge has a reverse twin
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert e.exceptAll(rev).count() == 0
    # customer ids even, supplier ids odd — key spaces disjoint
    assert e.where((F.col("src") % 2 == 0) & (F.col("dst") % 2 == 0)).count() == 0


def test_triangle_count_known_graphs(spark):
    def run(edges):
        df = spark.createDataFrame(edges, "src bigint, dst bigint")
        return graph.triangle_count(df).first()

    # 4-clique: C(4,3) = 4 triangles
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = run(clique)
    assert (r.n_vertices, r.n_edges, r.n_triangles) == (4, 6, 4)
    # path graph: none
    r = run([(0, 1), (1, 2), (2, 3)])
    assert r.n_triangles == 0
    # hub + one closing edge: exactly one triangle, hub degree highest
    hub = [(0, h) for h in range(1, 6)] + [(1, 2)]
    r = run(hub)
    assert r.n_triangles == 1
    # duplicate edges don't double-count
    r = run(clique + clique)
    assert (r.n_edges, r.n_triangles) == (6, 4)


def test_kcore_peel_matches_python_rounds(spark, sf_dir):
    from collections import defaultdict

    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import graph
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 4 == 0)
    edges = [(r.src, r.dst) for r in graph.copart_edges(li).collect()]
    und = set(edges) | {(b, a) for a, b in edges}
    for _ in range(3):
        deg = defaultdict(int)
        for a, _b in und:
            deg[a] += 1
        alive = {v for v, d in deg.items() if d >= 3}
        und = {(a, b) for a, b in und if a in alive and b in alive}
    expect = defaultdict(int)
    for a, _b in und:
        expect[a] += 1
    got = {
        r.node: r.residual_degree
        for r in graph.kcore_peel(graph.copart_edges(li)).collect()
    }
    assert got == dict(expect)


def test_bfs_levels_min_distance_and_early_stop(spark):
    """BFS must report MIN hop distance (a node reachable at levels 2
    and 4 reports 2), stop expanding at max_depth, and short-circuit
    when the frontier empties."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    #    1 -> 2 -> 3 -> 4 -> 5 ;  1 -> 3 (shortcut)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3)], "src bigint, dst bigint"
    )
    got = {r.node: r.level for r in graph.bfs_levels(edges, 1, max_depth=3).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    # early stop: isolated source explores nothing beyond itself
    lone = {r.node: r.level for r in graph.bfs_levels(edges, 99, max_depth=3).collect()}
    assert lone == {99: 0}


def test_assoc_rules_metrics_by_hand(spark):
    """4 baskets: {1,2} {1,2} {1,2} {1,3}: rule 1->2 has n_ab=3, n_a=4,
    n_b=3, n_orders=4 -> support 7500bp, confidence 7500bp, lift
    (3*4)/(4*3)=1.0 -> 10000bp. Pairs below min_baskets are pruned."""
    from data_lake_for_citi_bike_trip_spark.operators import graph as g

    rows = []
    for ok, parts in [(10, [1, 2]), (11, [1, 2]), (12, [1, 2]), (13, [1, 3])]:
        for p in parts:
            rows.append((ok, p, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", "2024-01-01"))
    li = spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate string",
    )
    got = {(r.part_a, r.part_b): (r.support_bp, r.confidence_bp, r.lift_bp)
           for r in g.assoc_rules(li).collect()}
    assert got == {
        (1, 2): (7500, 7500, 10000),
        (2, 1): (7500, 10000, 10000),
    }


def test_sssp_weighted_prefers_cheap_two_hop(spark):
    """Diamond: 2 -> 3 (w 10) direct, 2 -> 5 -> 3 (w 1 + 1): the
    weighted path must win where BFS hop count would pick the direct
    edge; an unreachable-within-rounds node stays absent."""
    from data_lake_for_citi_bike_trip_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(2, 3, 10), (2, 5, 1), (5, 3, 1), (3, 7, 1), (7, 9, 1), (9, 11, 1)],
        "src bigint, dst bigint, w bigint",
    )
    got = {r.node: r.dist for r in g.sssp_weighted(edges, source=2, rounds=3).collect()}
    assert got[3] == 2      # via 5, not the w=10 direct edge
    assert got[5] == 1
    assert got[7] == 3      # 2->5->3->7
    assert got[9] == 12     # 2->3(10)->7(1)->9(1): three edges exactly
    assert 11 not in got    # needs >= 4 edges on every path


def test_label_propagation_two_components(spark):
    """Two disjoint chains converge to their component minima within
    3 rounds; sizes come back per label."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # component min 1, size 4
         (10, 11), (11, 12)],          # component min 10, size 3
        "src long, dst long",
    )
    got = {r.label: r.n_members
           for r in graph.label_propagation(edges).collect()}
    assert got == {1: 4, 10: 3}


def test_frequent_triples_prune_and_topk(spark):
    """A triple present in 3 of 4 baskets survives; a triple whose
    pair support falls below 1bp... (here: below 2 baskets) is pruned
    even if the raw triple count passes."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    rows = []
    # baskets 1-3: categories {1,2,3} via partkeys 1,2,3
    for ok in (1, 2, 3):
        for p in (1, 2, 3):
            rows.append((ok, p))
    # basket 4: {4,5,6} appears once -> every pair support 1 -> pruned
    for p in (4, 5, 6):
        rows.append((4, p))
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {(r.cat_a, r.cat_b, r.cat_c): r.n_baskets
           for r in graph.frequent_triples(li).collect()}
    assert got == {(1, 2, 3): 3}


def test_ppr_mass_stays_near_seed(spark):
    """A 2-component graph: PPR from the min node must give zero mass
    to the other component and rank the seed first."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2),       # seed component
         (10, 11), (11, 10)],                   # unreachable
        "src long, dst long",
    )
    rows = graph.personalized_pagerank(edges).collect()
    ids = {r.id for r in rows}
    assert 10 not in ids and 11 not in ids
    assert ids == {1, 2, 3}  # exactly the seed's component
    assert all(r.rank_e6 > 0 for r in rows)


def test_ppr_differs_from_uniform_pagerank(spark):
    """On a star graph the PPR-from-seed ordering concentrates mass
    on the seed's neighborhood rather than global degree."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    # hub 5 with spokes; seed (min id = 1) is one spoke
    e = [(5, s) for s in (1, 2, 3, 4)] + [(s, 5) for s in (1, 2, 3, 4)]
    edges = spark.createDataFrame(e, "src long, dst long")
    rows = {r.id: r.rank_e6
            for r in graph.personalized_pagerank(edges).collect()}
    # hub receives all of the seed's pushed mass -> hub > other spokes
    assert rows[5] > rows.get(2, 0)


def test_edge_churn_reconciliation(spark):
    """Hand-built halves: edge (1,2) in both, (1,3) pre only, (2,3)
    post only -> stable 1, dropped 1, new 1, jaccard 3333."""
    rows = [
        # pre-half (ship Jan): order 1 has parts 1,2,3
        (1, 1, "2024-01-01"), (1, 2, "2024-01-01"), (1, 3, "2024-01-01"),
        # post-half (ship Dec): order 2 has parts 1,2; order 3 has 2,3
        (2, 1, "2024-12-01"), (2, 2, "2024-12-01"),
        (3, 2, "2024-12-02"), (3, 3, "2024-12-02"),
    ]
    li = spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, d string"
    ).selectExpr("l_orderkey", "l_partkey", "to_timestamp(d) AS l_shipdate")
    from data_lake_for_citi_bike_trip_spark.operators import graph
    r = graph.edge_churn(li).collect()[0]
    # pre edges: (1,2),(1,3),(2,3); post edges: (1,2),(2,3)
    assert (r.stable_edges, r.dropped_edges, r.new_edges) == (2, 1, 0)
    assert r.union_edges == 3
    assert r.jaccard_bp == 6666


def test_hits_round_semantics(spark):
    """Two customers -> one popular supplier: after round 1 the
    popular supplier's auth = its in-degree; hubs pointing at it
    score higher than hubs pointing at a lone supplier."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    edges = spark.createDataFrame(
        [(2, 1), (4, 1), (6, 3)],  # custs 2,4 -> supp 1; cust 6 -> supp 3
        "src long, dst long",
    )
    rows = {r.id: (r.auth, r.hub) for r in graph.hits_scores(edges).collect()}
    # a1: supp1=2, supp3=1; h1: c2=2,c4=2,c6=1; a2: supp1=4, supp3=1
    assert rows[1][0] == 4 and rows[3][0] == 1
    # h2: c2=c4=4, c6=1
    assert rows[2][1] == 4 and rows[6][1] == 1


def test_degree_powerlaw_flat_degrees_filtered(spark):
    """All-equal degrees make every Hill term zero -> filtered; a
    genuine spread yields a positive alpha."""
    from data_lake_for_citi_bike_trip_spark.operators import graph

    # star: hub 1 with 8 spokes -> degrees hub=8, spokes=1
    edges = spark.createDataFrame(
        [(1, s) for s in range(2, 10)], "src long, dst long"
    )
    rows = graph.degree_powerlaw(edges, top_k=5).collect()
    assert len(rows) == 1
    assert rows[0].alpha_e3 > 1000  # alpha > 1 by construction

    # 2-cycle: both degrees equal -> s_mb = 0 -> filtered
    flat = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert graph.degree_powerlaw(flat).collect() == []


def test_also_bought_whale_basket_salted_identity(spark):
    """VERDICT r10 item 6: the basket self-join's "orders have
    single-digit lines" bound is enforced by salted_candidates' whale
    gate, not argued. A malformed whale basket (one order with 300
    distinct parts -> 90k bucket pairs > whale_min**2 opens the gate)
    must produce exactly the plain self-join's co-occurrence counts."""
    rows = [(999, p) for p in range(300)]          # whale basket
    rows += [(ok, p) for ok in range(50) for p in (ok % 7, 7 + ok % 5)]
    li = spark.createDataFrame(
        rows, "l_orderkey bigint, l_partkey bigint"
    )
    got = {
        (r.part, r.other): (r.n_baskets, r.rank)
        for r in graph.also_bought(li, k=3).collect()
    }
    # driver-side mirror of the plain-join semantics
    from collections import defaultdict
    from itertools import permutations

    baskets = defaultdict(set)
    for ok, p in rows:
        baskets[ok].add(p)
    nb = defaultdict(int)
    for ps in baskets.values():
        for a, b in permutations(sorted(ps), 2):
            nb[(a, b)] += 1
    want = {}
    per_part = defaultdict(list)
    for (a, b), n in nb.items():
        per_part[a].append((-n, b))
    for a, lst in per_part.items():
        for rank, (negn, b) in enumerate(sorted(lst)[:3], start=1):
            want[(a, b)] = (-negn, rank)
    assert got == want
