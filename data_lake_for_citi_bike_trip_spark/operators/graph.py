"""Graph algorithms over relation-derived edge lists.

The reference has no graph surface; this extends the engine with the
iterative-algorithm class a curation pipeline needs (influence/quality
propagation over citation/link graphs, centrality-weighted sampling).
Companion to ``dedup.connected_components`` (the other fixed-point
operator in the engine).

PageRank here is INTEGER-EXACT so it can carry a DuckDB oracle: ranks
live in e6 fixed-point, every division is a floor over non-negative
operands (Spark ``div`` truncates toward zero, DuckDB ``//`` floors —
they agree on non-negative values, same discipline as oracles.py), and
the iteration count is fixed — the oracle unrolls the same arithmetic.

Scale notes (100 TB): one iteration = one broadcast of the rank vector
onto the cached edge list (keyed on ``src``) + one aggregate keyed on
``dst``. Edge list and out-degrees are computed once and cached. Plans
grow linearly with iterations; a long run (>~10 iters) should
localCheckpoint every few iterations to cut lineage, exactly like
``connected_components`` does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..session import spread
from .skew import salted_candidates

#: e6 fixed-point scale for ranks.
RANK_SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """Fixed-iteration integer PageRank.

    ``edges``: (src, dst) directed edge list (pre-deduplicated by the
    caller if multi-edges shouldn't weigh). Every node starts at
    ``RANK_SCALE``; one step is

        r'(n) = (100 - d)/100 * RANK_SCALE
                + d * sum_{(m,n) in E} (r(m) div outdeg(m)) div 100

    entirely in BIGINT. Dangling mass (nodes with no out-edges) is
    dropped, the standard simplification — documented rather than
    redistributed so the oracle stays a pure unrolled aggregate.

    Each iteration broadcasts the rank vector (one row per node — the
    Pregel vertex state, orders of magnitude smaller than the edge list)
    to the cached edge partitions, so the only shuffle per step is the
    contribution aggregate on ``dst``.

    Returns (id, rank_e6).
    """
    edges = cached(edges.select("src", "dst"))
    nodes = cached(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # contribution edges: (src, dst, outdeg) — computed once, reused by
    # every iteration's rank join
    contrib_edges = cached(edges.join(outdeg, "src"))

    base = 100 - damping_pct
    ranks = nodes.select(
        "id", F.lit(RANK_SCALE).cast("long").alias("rank_e6")
    )
    for _ in range(iters):
        rank_side = F.broadcast(ranks.select(F.col("id").alias("src"), "rank_e6"))
        contribs = (
            contrib_edges.join(rank_side, "src")
            .select("dst", F.expr("rank_e6 div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, nodes.id == contribs.dst, "left")
            .select(
                nodes.id,
                (
                    F.lit(base * RANK_SCALE // 100).cast("long")
                    + F.expr(
                        f"({damping_pct} * coalesce(contrib, CAST(0 AS BIGINT)))"
                        " div 100"
                    )
                ).alias("rank_e6"),
            )
        )
    return ranks


def copurchase_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Customer<->supplier co-purchase edge list: a distinct edge per
    (custkey, suppkey) pair connected through an order, in BOTH
    directions (even node ids = customers 2k, odd = suppliers 2k+1, so
    the two key spaces can't collide). One shuffle join + one distinct."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            # NO spread() on the streamed side — measured wash (r15
            # interleaved A/B): unlike the quadratic basket self-joins,
            # this join emits ~|lineitem| rows, and the distinct's
            # exchange already parallelizes everything downstream.
            lineitem.select("l_orderkey", "l_suppkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .distinct()
    )
    return pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst")
    ).unionByName(
        pairs.select(
            F.col("s_node").alias("src"), F.col("c_node").alias("dst")
        )
    )


def copart_edges(lineitem: DataFrame) -> DataFrame:
    """Market-basket edge list: distinct part pairs co-occurring in an
    order, canonicalized src < dst. The explode is bounded by order
    size (a self-join of lineitem on l_orderkey), never corpus-wide.
    The probe side is spread() so the broadcast join's pair emission
    does not serialize into a single-row-group scan task (r15, same
    measured pattern as also_bought)."""
    a = spread(
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("src")
        )
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("dst")
    )
    return (
        a.join(b, "ok")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected edge list (src < dst
    canonical form), DEGREE-ORIENTED: every edge is directed from its
    lower-(degree, id) endpoint to the higher, so each vertex's
    out-degree is O(sqrt(m)) regardless of how hubby the graph is —
    the standard bound that keeps the wedge join from exploding on
    power-law degree distributions (the naive id-oriented form was
    ~5x slower on the market-basket graph at sf0.1). Wedges are pairs
    of out-neighbors of the same source; a triangle closes when the
    (id-ordered) pair is itself an edge — one more hash join against
    the canonical edge set. Each triangle is counted exactly once (its
    unique lowest-(degree, id) apex). Returns one row (n_vertices,
    n_edges, n_triangles)."""
    e = cached(edges.select("src", "dst").distinct())
    deg = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_degs = (
        e.join(deg.select(F.col("v").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    src_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = cached(with_degs.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("b"),
    ))
    x = oriented.select("a", F.col("b").alias("b1"))
    y = oriented.select("a", F.col("b").alias("b2"))
    wedges = x.join(y, "a").where(F.col("b1") < F.col("b2"))
    triangles = wedges.join(
        e,
        (F.col("b1") == F.col("src")) & (F.col("b2") == F.col("dst")),
    )
    verts = deg.select("v")
    return (
        verts.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        .crossJoin(triangles.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


def kcore_peel(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of
    "remove every vertex with degree < k", over a canonical src < dst
    edge list.

    Full k-core decomposition iterates to a fixpoint; a FIXED round
    count makes the operator deterministic, SQL-unrollable (the oracle
    replays the identical rounds), and cheap to reason about at scale —
    each round is one degree aggregate + one semi-join filter on the
    surviving-vertex set, all keyed shuffles. In production the loop
    runs with the same convergence-counter pattern as pagerank/CC
    (driver sees one scalar per round); three rounds already remove the
    long tail on power-law graphs.

    Emits the surviving vertices with their residual degree after the
    last round.
    """
    # Each round reads ``und`` TWICE (degree aggregate + survivor
    # filter join) and rounds chain, so the uncached plan duplicated
    # the whole prefix ~2x per round (ReusedExchange only dedupes
    # exchange-rooted subtrees; the union scan below is not one).
    # Caching each round's survivor list bounds the work per round to
    # one degree aggregate + one filter join over cached rows (r15,
    # guide §2.4/§5).
    und = cached(
        edges.select("src", "dst").unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    for _ in range(rounds):
        deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.where(F.col("deg") >= k).select("src")
        und = cached(
            und.join(alive, "src")
            .join(alive.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
        )
    return (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("residual_degree"))
    )


def bfs_levels(edges: DataFrame, source: int, max_depth: int = 4) -> DataFrame:
    """Bounded-depth breadth-first search from ``source``: every node
    reachable within ``max_depth`` hops with its MINIMUM hop distance —
    the Pregel frontier-expansion pattern on DataFrames.

    Each round is ONE equi-join of the current frontier against the
    edge list (keyed on src — the same partitioning every round) plus
    an anti-join against the visited set; both sides shrink as the
    frontier saturates, and an empty frontier short-circuits the loop.
    ``localCheckpoint`` truncates the growing lineage each round (the
    iterative-plan discipline PageRank documents at module top). Depth
    is bounded by contract — unbounded closure belongs to
    connected-components (dedup.connected_components), not BFS.

    Output: (node, level) with level in [0, max_depth]."""
    sess = edges.sparkSession
    # cached AGAIN in r16: the r15 A/B measured the cache
    # wash-to-negative (2.58/2.64 s uncached vs 3.01/2.72 s cached) —
    # but that measurement ran in the warm-across-queries world, where
    # the copurchase edge subtree was usually already materialized by
    # a NEIGHBORING graph query's cache. Under the r16 cold-start
    # bench (data caches dropped between queries) the per-round
    # rebuild recomputes the orders x lineitem join from parquet every
    # round, and the same A/B flips decisively: uncached first/min
    # 3.85-11.1 / 3.85-4.13 s vs cached 3.59-4.37 / 2.19-2.29 s.
    adj = cached(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
    )
    visited = sess.createDataFrame(
        [(source, 0)], "node bigint, level bigint"
    ).localCheckpoint()
    frontier = visited
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(
                adj,
                "node",
            )
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(depth).cast("bigint").alias("level"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited


def also_bought(lineitem: DataFrame, k: int = 3) -> DataFrame:
    """Top-k "customers also bought" per part: co-occurrence counts
    over order baskets, ranked per source part by (count desc, partner
    asc) — a TOTAL order, so the top-k boundary is deterministic.

    Scale shape: the basket self-join is keyed on l_orderkey (bounded
    by order size on well-formed data), the count aggregate is map-side
    combined, and the per-part window ranks each part's partner list —
    partner lists are catalog-bounded, not corpus-bounded, so the
    window never skews with row count. The self-join routes through
    ``skew.salted_candidates`` (VERDICT r10 item 6): the "orders have
    single-digit lines" data-model bound is now ENFORCED by the whale
    gate instead of argued — a whale basket (one l_orderkey owning a
    corpus-scale share of lines) scatters its quadratic pair emission
    across the salt span instead of single-tasking it, and on bounded
    baskets the gate closes and the plan IS the plain equi-join.

    The probe side is spread() (r15): the broadcast self-join emits its
    pair rows INSIDE the probe's scan task, so a single-row-group
    source (the sf testdata shape) emitted + partially aggregated every
    candidate pair on one core (measured 3.7-4.4 -> 2.4-2.5 s
    min-of-3). No-op on already-parallel inputs."""
    a = spread(
        lineitem.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
        )
    )
    b = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("other")
    )
    counts = (
        salted_candidates(a, b, "ok", "part")
        .where(F.col("part") != F.col("other"))
        .select("ok", "part", "other")
        .distinct()  # one vote per basket, however many line items
        .groupBy("part", "other")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    w = Window.partitionBy("part").orderBy(
        F.desc("n_baskets"), F.asc("other")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("part", "other", "n_baskets", "rank")
    )


def assoc_rules(lineitem: DataFrame, min_baskets: int = 3) -> DataFrame:
    """Association rules A -> B over order baskets with the three
    classic metrics in exact basis points: support (how common the
    pair), confidence (P(B|A)), lift (confidence vs B's base rate) —
    the market-basket layer ON TOP of also_bought's raw co-occurrence.

    Scale shape mirrors also_bought: the only self-join is keyed on
    l_orderkey (bounded by basket size, whale-gated through
    ``skew.salted_candidates`` so a malformed whale basket scatters
    instead of single-tasking — see also_bought), per-part basket
    counts are one keyed aggregate, and the final metric join attaches
    two catalog-sized count tables. min_baskets prunes the noise tail
    before the metric join, bounding the output. All three metrics are
    truncating integer divisions over exact counts (all positive, so
    Spark div == DuckDB //); lift > 1e4 bp means genuinely associated.
    """
    baskets = lineitem.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    ).distinct()
    n_orders = baskets.agg(
        F.count_distinct("ok").cast("long").alias("n_orders")
    )
    per_part = baskets.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_part")
    )
    pairs = (
        salted_candidates(
            baskets,
            baskets.select(F.col("ok"), F.col("part").alias("other")),
            "ok",
            "part",
        )
        .where(F.col("part") != F.col("other"))
        .groupBy("part", "other")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_baskets)
    )
    return (
        pairs.join(per_part.withColumnRenamed("n_part", "n_a"), "part")
        .join(
            per_part.select(
                F.col("part").alias("other"), F.col("n_part").alias("n_b")
            ),
            "other",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("part").alias("part_a"),
            F.col("other").alias("part_b"),
            "n_ab",
            "n_a",
            "n_b",
            "n_orders",
            F.expr("(10000 * n_ab) div n_orders").alias("support_bp"),
            F.expr("(10000 * n_ab) div n_a").alias("confidence_bp"),
            F.expr("(10000 * n_ab * n_orders) div (n_a * n_b)").alias(
                "lift_bp"
            ),
        )
    )


def sssp_weighted(
    edges: DataFrame, source: int, rounds: int = 3
) -> DataFrame:
    """Single-source WEIGHTED shortest paths, Bellman-Ford style,
    bounded to ``rounds`` relaxations — bfs_levels' weighted sibling
    (hop count becomes accumulated edge weight; min-hop becomes
    min-cost). After k rounds the distances are exactly min-cost over
    paths of <= k edges — the contract the oracle replays by bounded
    path enumeration.

    Each round is ONE equi-join of current distances against the edge
    list (keyed on src, the same partitioning every round) and one
    min-aggregate — the standard iterative-relaxation plan with
    ``localCheckpoint`` lineage truncation. Negative edges are fine
    (it's Bellman-Ford); negative CYCLES are not a risk because rounds
    are bounded by contract.

    ``edges``: (src, dst, w) rows. Output: (node, dist) for every node
    reachable within ``rounds`` edges.
    """
    sess = edges.sparkSession
    # Loop-invariant edges cached ONCE (r15, guide §2.4): per-round
    # localCheckpoint materialization otherwise re-derives the weighted
    # edge list (orders x lineitem join + aggregate) every round.
    adj = cached(edges.select(F.col("src").alias("node"), "dst", "w"))
    dist = sess.createDataFrame(
        [(source, 0)], "node bigint, dist bigint"
    ).localCheckpoint()
    for _ in range(rounds):
        relax = dist.join(
            adj, "node"
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).cast("bigint").alias("dist"),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint()
        )
    return dist


def copurchase_weighted_edges(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Weighted variant of copurchase_edges: edge weight = the MINIMUM
    quantity ever shipped across that (customer, supplier) relation —
    aggregated per pair, symmetric both directions. Same node-id
    encoding (even = customer 2k, odd = supplier 2k+1)."""
    pairs = (
        orders.select("o_orderkey", "o_custkey")
        .join(
            # no spread: same measured-wash note as copurchase_edges
            lineitem.select("l_orderkey", "l_suppkey", "l_quantity"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("c_node"),
            (F.col("l_suppkey") * 2 + 1).alias("s_node"),
        )
        .agg(F.min("l_quantity").cast("long").alias("w"))
    )
    return pairs.select(
        F.col("c_node").alias("src"), F.col("s_node").alias("dst"), "w"
    ).unionByName(
        pairs.select(
            F.col("s_node").alias("src"), F.col("c_node").alias("dst"), "w"
        )
    )


def label_propagation(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """Community detection by MIN-LABEL propagation, ``rounds``
    synchronous rounds — the deterministic cousin of LPA (classic LPA
    breaks ties randomly; min-label makes every round a pure
    aggregate, so the oracle can replay it CTE-for-CTE, the
    kcore_peel stance). After k rounds every vertex carries the
    smallest vertex id within k hops; connected regions converge to
    their component minimum, and the round bound keeps each step one
    keyed join + one min-aggregate — the Pregel shape with a fixed
    supersteps budget.

    Emits per surviving label: member count and the label itself
    (community sizes after round ``rounds``). Input edges are
    canonical src < dst; propagation runs over the symmetrized list
    plus self-loops (a vertex keeps its own label).
    """
    verts = cached(
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    # Loop-invariant symmetrized edge list cached ONCE (r15, guide
    # §2.4): the per-round localCheckpoint boundaries otherwise re-run
    # the whole upstream edge derivation each round.
    sym = cached(
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .unionByName(
            verts.select(
                F.col("v").alias("src"), F.col("v").alias("dst")
            )
        )
    )
    labels = verts.select("v", F.col("v").alias("label"))
    for _ in range(rounds):
        labels = (
            sym.join(
                labels, F.col("src") == F.col("v")
            )
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("label").alias("label"))
            .select(F.col("v2").alias("v"), "label")
        )
        # lineage truncation: k joins stack otherwise (the bfs lesson)
        labels = labels.localCheckpoint(eager=False)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members")
    )


def frequent_triples(
    lineitem: DataFrame, n_cats: int = 100, k: int = 50
) -> DataFrame:
    """Apriori frequent 3-itemsets over order baskets at CATEGORY
    grain (part id mod ``n_cats`` — the category rollup real basket
    analysis runs on, and the grain whose co-occurrence density is
    scale-stable; SKU-grain triples vanish as the catalog grows, the
    assoc_rules sparsity lesson). Level-3 of assoc_rules' pairs with
    the CLASSIC candidate generation that makes Apriori scale: a
    triple {a,b,c} is counted ONLY if all three of its pairs are
    frequent (>= 1 bp of baskets — fractional, so the prune holds at
    any sf), so candidates come from joining the frequent-pair list
    with itself — downward closure. With NARROW baskets (order size
    is catalog-bounded at ~7 lines) the cheapest support count is the
    direct three-way basket self-join (C(7,3) = 35 combinations per
    basket, linear in orders), so the prune is applied as three
    semi-joins on the counted triples; candidate-first generation is
    the wide-basket variant (documents as baskets) where C(b,3)
    explodes — same algebra, opposite join order.

    Output is the TOP-``k`` triples by support (deterministic
    tie-break on the items) rather than an absolute cutoff — top-k by
    a count is the scale-portable contract. orderBy+limit plans as
    TakeOrderedAndProject (per-partition partial top-k).

    COMBINATION-EXPLODE NEGATIVE RESULT (r16): rebuilding the pair and
    triple enumeration as one collect_set-per-basket aggregate plus
    nested-sequence combination explodes (two fewer join stages) was
    output-IDENTICAL but measured slower — join chain 1.62-2.32 s vs
    explode form 1.97-2.12 s interleaved at sf0.1 — because the
    interpreted per-row HOF combination expressions lose to codegen'd
    self-joins whose scan+distinct exchanges ReusedExchange already
    dedupes. The join form stays.
    """
    baskets = lineitem.select(
        F.col("l_orderkey").alias("ok"),
        (F.col("l_partkey") % n_cats).alias("p"),
    ).distinct()
    n_orders = baskets.agg(
        F.count_distinct("ok").alias("n_orders")
    )
    pa = baskets.select("ok", F.col("p").alias("a"))
    pb = baskets.select("ok", F.col("p").alias("b"))
    pairs = (
        pa.join(pb, "ok")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .crossJoin(F.broadcast(n_orders))
        .where(
            (10000 * F.col("n_ab") >= F.col("n_orders"))
            & (F.col("n_ab") >= 2)
        )
        .select("a", "b")
    )
    # direct bounded enumeration: C(basket, 3) per order, then the
    # Apriori downward-closure prune as three frequent-pair semi-joins
    pc = baskets.select("ok", F.col("p").alias("c"))
    support = (
        pa.join(pb, "ok")
        .where(F.col("a") < F.col("b"))
        .join(pc, "ok")
        .where(F.col("b") < F.col("c"))
        .groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .join(pairs, ["a", "b"], "left_semi")
        .join(
            pairs.select(F.col("a").alias("b"), F.col("b").alias("c")),
            ["b", "c"],
            "left_semi",
        )
        .join(
            pairs.select(F.col("a").alias("a"), F.col("b").alias("c")),
            ["a", "c"],
            "left_semi",
        )
    )
    topk = support.orderBy(
        F.desc("n_baskets"), F.asc("a"), F.asc("b"), F.asc("c")
    ).limit(k)
    return topk.select(
        F.col("a").alias("cat_a"),
        F.col("b").alias("cat_b"),
        F.col("c").alias("cat_c"),
        F.col("n_baskets").cast("long").alias("n_baskets"),
    )


def personalized_pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    top_k: int = 100,
) -> DataFrame:
    """PERSONALIZED PageRank from a deterministic seed (the minimum
    node id) — plain pagerank's teleport spreads uniformly ("globally
    important nodes"); PPR teleports back to ONE node, so the
    stationary mass answers "important RELATIVE TO this seed" — the
    related-items / who-to-follow primitive. Same integer Pregel
    shape as ``pagerank``: all mass starts at the seed, each step is

        r'(n) = [n = seed] * (100-d)/100 * TOTAL
                + d * sum contribs(n) div 100

    with TOTAL = RANK_SCALE * n_nodes, entirely BIGINT; the seed and
    node count attach as a 1-row broadcast stat. Mass never reaches
    nodes outside the seed's <= ``iters``-hop neighborhood, which also
    bounds the nonzero output; the emitted surface is the top-k by
    rank (deterministic tie-break) — TakeOrderedAndProject.
    """
    edges = cached(edges.select("src", "dst"))
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_edges = cached(edges.join(outdeg, "src"))
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # 1-row (seed, n_nodes) stat — cached because seed_base below is
    # consumed by EVERY iteration's union and would otherwise re-run
    # the node distinct each round.
    stats = cached(
        nodes.agg(
            F.min("id").alias("seed"), F.count(F.lit(1)).alias("n_nodes")
        )
    )
    base = 100 - damping_pct
    # r15 SPARSE formulation (guide §2.3/§2.4): mass only ever lives on
    # the seed and nodes its <= iters-hop out-neighborhood reaches, and
    # zero-rank rows contribute exactly 0 to every contribution sum —
    # so the dense per-iteration full-node frame (nodes x stats crossJoin
    # + an n-row left join + an n-row broadcast per step) is pure
    # overhead. Keep ranks SPARSE (absent = rank 0): each step is the
    # contribution aggregate plus a union with the 1-row seed base term
    # and a sum by node. Output-identical: the old per-node expression
    # when(seed, base_term) + (d * coalesce(contrib, 0)) div 100 equals
    # the sum of the seed-base row and the contribution row, and rows
    # absent in the sparse form are exactly the rank-0 rows the final
    # rank_e6 > 0 filter dropped anyway (oracle-verified).
    seed_base = stats.select(
        F.col("seed").alias("id"),
        F.expr(f"({base} * {RANK_SCALE} * n_nodes) div 100")
        .cast("long")
        .alias("rank_e6"),
    )
    ranks = stats.select(
        F.col("seed").alias("id"),
        (F.lit(RANK_SCALE).cast("long") * F.col("n_nodes"))
        .cast("long")
        .alias("rank_e6"),
    )
    for _ in range(iters):
        contribs = (
            contrib_edges.join(
                F.broadcast(
                    ranks.select(F.col("id").alias("src"), "rank_e6")
                ),
                "src",
            )
            .groupBy("dst")
            .agg(
                F.sum(F.expr("rank_e6 div outdeg")).alias("contrib")
            )
        )
        ranks = (
            seed_base.unionByName(
                contribs.select(
                    F.col("dst").alias("id"),
                    F.expr(f"({damping_pct} * contrib) div 100")
                    .cast("long")
                    .alias("rank_e6"),
                )
            )
            .groupBy("id")
            .agg(F.sum("rank_e6").cast("long").alias("rank_e6"))
        )
    return (
        ranks.where(F.col("rank_e6") > 0)
        .orderBy(F.desc("rank_e6"), F.asc("id"))
        .limit(top_k)
        .select("id", "rank_e6")
    )


def edge_churn(lineitem: DataFrame) -> DataFrame:
    """Co-purchase edge churn between the ship-date halves — graph
    stability as data: which part pairs kept co-occurring, which
    vanished, which are new. The one-number summary is the edge
    Jaccard (stable / union) in bp; the class counts are the
    reconciliation detail. A recommender retrained on a graph with
    high churn needs a shorter half-life — this readout prices that.

    Scale: per-half distinct edge sets are basket-bounded self-joins
    (the copart shape); the reconciliation is one full-outer join on
    the canonical (src, dst) key; output is 3 class rows + the
    1-row summary attach.
    """
    mid = lineitem.agg(
        F.expr(
            "min(to_date(l_shipdate)) + CAST(datediff("
            "max(to_date(l_shipdate)), min(to_date(l_shipdate))) "
            "div 2 AS INT)"
        ).alias("mid_day")
    )
    li = lineitem.crossJoin(F.broadcast(mid)).select(
        "l_orderkey",
        "l_partkey",
        (F.to_date("l_shipdate") > F.col("mid_day"))
        .cast("long")
        .alias("h"),
    )

    def half_edges(h: int) -> DataFrame:
        b = li.where(F.col("h") == h).select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")
        ).distinct()
        return (
            b.join(
                b.select("ok", F.col("p").alias("q")), "ok"
            )
            .where(F.col("p") < F.col("q"))
            .select(F.col("p").alias("src"), F.col("q").alias("dst"))
            .distinct()
        )

    pre = half_edges(0).withColumn("in_pre", F.lit(1))
    post = half_edges(1).withColumn("in_post", F.lit(1))
    j = pre.join(post, ["src", "dst"], "full_outer").select(
        F.coalesce("in_pre", F.lit(0)).alias("in_pre"),
        F.coalesce("in_post", F.lit(0)).alias("in_post"),
    )
    return j.agg(
        F.sum(
            (F.col("in_pre") * F.col("in_post")).cast("long")
        ).alias("stable_edges"),
        F.sum(
            (F.col("in_pre") * (1 - F.col("in_post"))).cast("long")
        ).alias("dropped_edges"),
        F.sum(
            ((1 - F.col("in_pre")) * F.col("in_post")).cast("long")
        ).alias("new_edges"),
        F.count(F.lit(1)).alias("union_edges"),
    ).select(
        F.col("stable_edges").cast("long").alias("stable_edges"),
        F.col("dropped_edges").cast("long").alias("dropped_edges"),
        F.col("new_edges").cast("long").alias("new_edges"),
        F.col("union_edges").cast("long").alias("union_edges"),
        F.expr("(10000 * stable_edges) div union_edges").alias(
            "jaccard_bp"
        ),
    )


def hits_scores(edges: DataFrame, rounds: int = 2, top_k: int = 100) -> DataFrame:
    """HITS hubs-and-authorities, ``rounds`` synchronous rounds over
    the directed co-purchase graph — PageRank's bipartite sibling: an
    AUTHORITY is pointed at by good hubs, a HUB points at good
    authorities (a(n) = sum of h over in-neighbors, h(n) = sum of a
    over out-neighbors). Unnormalized by design: with bounded rounds
    the scores stay exact BIGINTs (growth <= max_degree per round —
    degree <= ~1e4 and 2 rounds keeps values < 1e14), and rankings
    are normalization-invariant, so the contract emits the top-k by
    authority with exact integer scores rather than a float-scaled
    vector. Each round is two keyed join+aggregate passes — the
    Pregel shape, oracle-unrolled.
    """
    edges = cached(edges.select("src", "dst"))
    # nodes is loop-invariant and re-read every round by the score
    # rebuild (plus the final ranking) — cache it like edges (r15).
    nodes = cached(
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    scores = nodes.select(
        "id",
        F.lit(1).cast("long").alias("hub"),
        F.lit(1).cast("long").alias("auth"),
    )
    for _ in range(rounds):
        auth = (
            edges.join(
                scores.select(F.col("id").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            edges.join(
                auth.select(F.col("id").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
        scores = (
            nodes.join(auth, "id", "left")
            .join(hub, "id", "left")
            .select(
                "id",
                F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
                F.coalesce("auth", F.lit(0)).cast("long").alias("auth"),
            )
        )
    return (
        scores.orderBy(F.desc("auth"), F.desc("hub"), F.asc("id"))
        .limit(top_k)
        .select("id", "auth", "hub")
    )


def degree_powerlaw(edges: DataFrame, top_k: int = 100) -> DataFrame:
    """Degree distribution tail exponent via the Hill estimator over
    the top-k degrees — "is this graph scale-free, and how heavy is
    the hub tail?" (alpha near 2: extreme hubs dominate; above 3:
    tail thin enough for uniform partitioning; the number that
    decides whether skew handling is needed AT ALL). Hill: alpha =
    1 + k / sum(ln(d_i / d_k)) over the k largest degrees.

    Exactness: per-node degrees are exact; the top-k selection is
    TakeOrderedAndProject; each log term quantizes to e3 millibits
    (natural log via log2 * ln2 folded into ONE shared expression)
    before the integer sum — the zipf_slope discipline. Emits k, the
    cutoff degree, and alpha_e3.
    """
    deg = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    topk = deg.orderBy(F.desc("d"), F.asc("v")).limit(top_k)
    dk = topk.agg(F.min("d").alias("dk"), F.count(F.lit(1)).alias("k"))
    terms = topk.crossJoin(F.broadcast(dk)).select(
        "k",
        F.floor(
            F.lit(1000.0)
            * F.log2(F.col("d").cast("double") / F.col("dk"))
            * F.lit(0.6931471805599453)
        ).cast("long").alias("t_mb"),
    )
    agg = terms.groupBy("k").agg(F.sum("t_mb").alias("s_mb"))
    return agg.where(F.col("s_mb") > 0).select(
        F.col("k").cast("long").alias("k"),
        F.floor(
            F.lit(1000.0)
            * (1.0 + F.col("k").cast("double") * 1000.0 / F.col("s_mb"))
        ).cast("long").alias("alpha_e3"),
    )
