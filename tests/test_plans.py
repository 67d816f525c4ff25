"""Plan-shape assertions: the scale properties that must not regress."""

from __future__ import annotations

import __spark_entry__ as entrymod
from data_lake_for_citi_bike_trip_spark.plans.explain import plan_facts


def _facts(spark, sf_dir, name):
    return plan_facts(entrymod.queries()[name](spark, sf_dir))


def test_fact_build_broadcasts_both_dims(spark, sf_dir):
    f = _facts(spark, sf_dir, "fact_trips")
    assert f["broadcast_joins"] >= 2
    assert f["sortmerge_joins"] == 0
    assert f["nested_loop_joins"] == 0


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    f = _facts(spark, sf_dir, "pricing_summary")
    assert f["pushed_filters"], "shipdate filter must reach the parquet scan"
    assert "ReadSchema" in f["plan"]
    # projection pruning: the scan must not read the l_orderkey/l_partkey ids
    scan = f["plan"].split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_dim_chain_stays_broadcast(spark, sf_dir):
    f = _facts(spark, sf_dir, "revenue_by_nation")
    assert f["broadcast_joins"] >= 3
    assert f["sortmerge_joins"] == 0


def test_range_join_avoids_nested_loop(spark, sf_dir):
    f = _facts(spark, sf_dir, "range_price_match")
    assert f["nested_loop_joins"] == 0


def test_exists_decorrelates_without_cartesian(spark, sf_dir):
    f = _facts(spark, sf_dir, "exists_big_spenders")
    assert f["nested_loop_joins"] == 0
    assert "SemiJoin" in f["plan"] or "LeftSemi" in f["plan"]


def test_lake_roundtrip_prunes_partitions(spark, sf_dir):
    """The read-back side of the lake round-trip must prune at the
    directory level (PartitionFilters on year/month), not scan-then-filter."""
    f = _facts(spark, sf_dir, "lake_roundtrip")
    tail = f["plan"].split("PartitionFilters: [")
    assert len(tail) > 1, "scan must carry partition filters"
    filters = tail[1].split("]")[0]
    assert "year" in filters and "month" in filters, filters


def test_spread_is_noop_on_already_parallel_input(spark):
    from data_lake_for_citi_bike_trip_spark.session import spread

    target = spark.sparkContext.defaultParallelism
    # already >= target splits: spread must return the SAME frame (no
    # exchange added to the plan)
    wide = spark.range(0, 1000).repartition(target + 4)
    assert spread(wide) is wide
    # under-split input still gets rebalanced to full parallelism
    narrow = spark.range(0, 1000).coalesce(1)
    out = spread(narrow)
    assert out is not narrow
    assert out.rdd.getNumPartitions() == target


def test_spread_sees_through_empty_parquet_splits(spark, tmp_path):
    """SOAK_r13 §4b: a single-row-group parquet file slices into N
    byte-range splits but only the one containing the row-group start
    yields rows — getNumPartitions() then LIES about parallelism and
    the old spread() waved the frame through to run single-task. The
    footer probe must catch it; a many-row-group file must stay
    untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_lake_for_citi_bike_trip_spark.session import spread

    target = spark.sparkContext.defaultParallelism
    n = 400_000
    table = pa.table({
        "id": pa.array(range(n), pa.int64()),
        # pad rows so the file is comfortably larger than one split
        "pad": pa.array([f"x{i:06d}" * 12 for i in range(n)]),
    })
    one = str(tmp_path / "one_group.parquet")
    pq.write_table(table, one)  # single row group
    many = str(tmp_path / "many_groups.parquet")
    pq.write_table(table, many, row_group_size=n // (target * 2))

    df_one = spark.read.parquet(one)
    if df_one.rdd.getNumPartitions() >= target:
        out = spread(df_one)
        assert out is not df_one, (
            "footer probe missed the single-row-group file"
        )
        from pyspark.sql import functions as F

        dist = (
            out.groupBy(F.spark_partition_id().alias("p"))
            .count()
            .count()
        )
        assert dist > 1, "repartition did not actually distribute rows"

    df_many = spark.read.parquet(many)
    if df_many.rdd.getNumPartitions() >= target:
        assert spread(df_many) is df_many, (
            "probe repartitioned a genuinely splittable file"
        )


def test_tpch_q3_broadcasts_and_pushes_dates(spark, sf_dir):
    f = _facts(spark, sf_dir, "tpch_shipping_priority")
    assert f["broadcast_joins"] >= 1
    assert f["pushed_filters"], "date/segment filters must reach the scans"
    assert f["nested_loop_joins"] == 0


def test_spatial_grid_join_is_hash_equi(spark, sf_dir):
    f = _facts(spark, sf_dir, "station_neighbors")
    assert f["nested_loop_joins"] == 0
    assert "CartesianProduct" not in f["plan"]


def test_skew_profile_uses_distributed_topk(spark, sf_dir):
    f = _facts(spark, sf_dir, "key_skew_profile")
    assert "TakeOrderedAndProject" in f["plan"], "top-k must not global-sort"


def test_feature_deciles_single_aggregation_pass(spark, sf_dir):
    f = _facts(spark, sf_dir, "feature_deciles")
    # one window sort + one grouped agg; no join machinery at all
    assert f["nested_loop_joins"] == 0
    assert f["sortmerge_joins"] == 0


def test_tpch_q5_cycle_broadcasts_small_sides(spark, sf_dir):
    """Q5's 6-table cycle: region/nation/supplier must broadcast, no
    cartesian anywhere; the big orders-lineitem edge may hash-shuffle."""
    f = _facts(spark, sf_dir, "tpch_local_supplier_volume")
    assert f["broadcast_joins"] >= 3
    assert f["nested_loop_joins"] == 0


def test_tpch_q19_single_join_with_residual_or(spark, sf_dir):
    """Q19's OR-of-ANDs must plan as ONE equi join on p_partkey with the
    disjunction as a residual filter, never a nested-loop product."""
    f = _facts(spark, sf_dir, "tpch_discounted_revenue")
    assert f["nested_loop_joins"] == 0
    assert f["sortmerge_joins"] + f["broadcast_joins"] >= 1


def test_asof_nearest_single_exchange(spark, sf_dir):
    """Nearest as-of must reuse ONE key exchange for both directional
    window carries (two sorts, not two shuffles)."""
    f = _facts(spark, sf_dir, "asof_nearest")
    # one Exchange node in the tree (formatted mode prints the tree and a
    # per-node details section, so the substring appears twice per node)
    assert f["plan"].count("+- Exchange") == 1, f["plan"]


def test_interval_overlap_join_is_hash_equi(spark, sf_dir):
    f = _facts(spark, sf_dir, "incident_exposure")
    assert f["nested_loop_joins"] == 0


def test_approx_profile_avoids_expand(spark, sf_dir):
    """The HLL profile variant must plan WITHOUT the Expand node that the
    exact count(DISTINCT) path requires (Expand multiplies every input
    row by the number of distinct aggregates — 6x shuffle at 100 TB),
    and its estimates must be within the sketch tolerance of exact."""
    from data_lake_for_citi_bike_trip_spark.operators import profile
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    orders = load_table(spark, sf_dir, "orders")
    exact_df = profile.orders_profile(orders)
    approx_df = profile.orders_profile(orders, approx=True)

    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    approx_plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the documented cost of exactness
    assert "Expand" not in approx_plan

    exact = {r.col_name: r for r in exact_df.collect()}
    for r in approx_df.collect():
        e = exact[r.col_name]
        # identical non-sketch metrics; sketch within 3x the 5% rsd
        assert (r.n_rows, r.n_null, r.min_val, r.max_val) == (
            e.n_rows, e.n_null, e.min_val, e.max_val
        )
        assert abs(r.n_distinct - e.n_distinct) <= max(3, 0.15 * e.n_distinct)


def test_partsupp_tpch_shapes_avoid_cartesian_and_nlj(spark, sf_dir):
    """The five partsupp-derived TPC-H shapes (Q2/Q11/Q16/Q20/Q21) must
    decorrelate cleanly: every dim join broadcast or hash, never a
    cartesian product / nested-loop fallback (a failed decorrelation of
    the scalar subqueries would surface as exactly that)."""
    for name in (
        "tpch_min_cost_supplier",
        "tpch_important_stock",
        "tpch_supplier_relation",
        "tpch_promo_stock_suppliers",
        "tpch_waiting_suppliers",
    ):
        f = _facts(spark, sf_dir, name)
        assert f["nested_loop_joins"] == 0, name
        assert "CartesianProduct" not in f["plan"], name
        assert f["broadcast_joins"] >= 2, name


def test_dynamic_partition_pruning_on_partitioned_fact(session_clone, sf_dir, tmp_path):
    """The 100 TB scan-reduction feature beyond static pushdown: a fact
    table partitioned on the join key must get a runtime
    dynamicpruning PartitionFilter from a selective dim-side filter that
    is NOT statically pushable (it's on a non-join column, so only the
    join can reveal which partitions survive). useStats=false because
    the benefit heuristic rejects DPP on kilobyte-scale local fixtures —
    at real scale table stats justify it unaided."""
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    sess = session_clone
    sess.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    sess.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "0.01"
    )

    fact_dir = str(tmp_path / "fact")
    dim_dir = str(tmp_path / "dim")
    load_table(sess, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    ).write.partitionBy("order_year").mode("overwrite").parquet(fact_dir)
    sess.createDataFrame(
        [(y, f"label{y}") for y in range(1995, 2003)], "order_year int, label string"
    ).write.mode("overwrite").parquet(dim_dir)

    fact = sess.read.parquet(fact_dir)
    dim = sess.read.parquet(dim_dir).where(F.col("label") == "label1996")
    joined = fact.join(dim, "order_year").groupBy("label").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is the single selected year's row count
    rows = joined.collect()
    expected = (
        load_table(sess, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1996)
        .count()
    )
    assert rows[0]["count"] == expected


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(session_clone, sf_dir):
    """Runtime bloom-filter injection (the row-level companion to
    dynamic partition pruning): a selective filter on the small side of
    a SHUFFLE join must inject might_contain(...) onto the fact side's
    scan so non-matching rows die before the exchange — at 100 TB this
    is the difference between shuffling the whole fact table and
    shuffling the ~1% that can join. NB: confs are set AFTER load_table
    because configure_runtime re-pins the broadcast threshold (bloom
    filters only apply to shuffle joins)."""
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    sess = session_clone
    orders = load_table(sess, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    lineitem = load_table(sess, sf_dir, "lineitem")
    sess.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "1KB",  # the sf-scale fact is tiny; production default is 10GB
    )
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    joined = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    # and the result is unaffected by the filter
    assert joined.first().n > 0


def test_no_contract_query_plans_a_cartesian_product(spark):
    """Repo-wide anti-pattern invariant: no contract query may contain a
    CartesianProduct node (an unkeyed data x data product). Broadcast
    nested-loop joins ARE allowed — every occurrence in this repo is
    either a 1-row stats attach or the documented brute-force ANN
    baseline (PLANS.md annotates each) — but a CartesianProduct means
    both sides were too big to broadcast, which at 100 TB is a job that
    never finishes. Queries whose construction performs side-effecting
    actions (streaming drains, table writes) are exercised by their own
    tests and skipped here."""
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    skip_prefixes = ("stream_", "lake_", "orc_", "multimodal_")
    offenders = {}
    for name, fn in entrymod.queries().items():
        if name.startswith(skip_prefixes):
            continue
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if "CartesianProduct" in plan or "cartesianProduct" in plan:
            offenders[name] = plan[:500]
    assert not offenders, sorted(offenders)


def test_corpus_sized_sides_not_hint_forced_broadcast(spark, sf_dir):
    """The shingle-df / doc-size / vocab / bigram-marginal sides of
    jaccard_prefix_join, text_surprisal, and token_colocation grow with
    the corpus, so they must NOT carry a forced broadcast hint (at
    100 TB a forced hint overflows the 8 GB broadcast limit; AQE still
    broadcasts them while they are small). Assert the optimized plans
    carry no ResolvedHint on those joins, the queries still avoid
    BroadcastNestedLoopJoin, and results stay non-empty with AQE
    choosing the strategy."""
    for name in ("jaccard_prefix", "text_surprisal", "token_colocation"):
        df = entrymod.queries()[name](spark, sf_dir)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        # simple physical string counts each node once (formatted_plan
        # lists every node twice: tree + detail section)
        physical = df._jdf.queryExecution().executedPlan().toString()
        n_bnlj = physical.count("BroadcastNestedLoopJoin")
        assert n_bnlj <= 1, (name, n_bnlj)
        # the only hint allowed is the 1-row stat attach (total counts);
        # count hint-forced broadcasts in the analyzed plan instead —
        # optimizer erases hints, analyzed keeps them
        analyzed = df._jdf.queryExecution().analyzed().toString()
        n_hints = analyzed.count("UnresolvedHint") + analyzed.count(
            "ResolvedHint"
        )
        assert n_hints <= 1, (name, n_hints, analyzed[:800])
        assert df.limit(1).count() == 1, name
        assert "CartesianProduct" not in optimized, name


def test_gate_rotation_frontloads_unchecked_queries():
    """The driver's correctness gate samples the FIRST 50 entries of
    queries(): queries whose latest driver row is a FAIL (uncontradicted
    reds) must sort before never-checked ones, and both before every
    already-green one, so past reds re-certify first and new work earns
    a driver row within one round while there are <50 unchecked
    entries. fact_trips is deliberately NOT pinned to slot 0 any more
    (r9): entry() exercises it every round, so pinning it only
    displaced a never-checked query from the sample window."""
    import __spark_entry__ as entrymod

    q = list(entrymod.queries())
    green, reds = entrymod._driver_rounds()
    # ever-red (no subsequent pass) sorts before every other query
    for n in reds:
        if n not in q:
            continue
        others = [m for m in q if m not in reds]
        if others:
            assert q.index(n) < min(q.index(m) for m in others), n
    unchecked = [n for n in q if n not in green]
    if unchecked:
        last_unchecked = max(q.index(n) for n in unchecked)
        first_checked = min(
            q.index(n) for n in q if n in green and n not in reds
        )
        assert last_unchecked < first_checked, (
            q[first_checked],
            q[last_unchecked],
        )
        if len(unchecked) <= 50:
            assert last_unchecked < 50, "unchecked query outside gate window"
        # the ANN/KNN pillar family must never be the overflow that
        # falls outside the 50-entry window (VERDICT r08 item 5)
        pillar = [
            "knn_blocked_pairs",
            "knn_blocked_recall",
            "knn_multiprobe_pairs",
            "knn_multiprobe_recall",
            "ann_pq_recall",
        ]
        for n in pillar:
            if n in unchecked:
                assert q.index(n) < 50, n
    # and every queries() entry still has an oracle
    assert set(entrymod.queries()) == set(entrymod.oracle_sql())


def test_record_linkage_blocking_avoids_quadratic_joins(spark, sf_dir):
    """Both blocking passes must plan as equi-joins (hash or merge) —
    a nested-loop here would mean the blocking keys fell out of the
    join condition and the linkage went all-pairs."""
    f = _facts(spark, sf_dir, "record_linkage")
    assert f["nested_loop_joins"] == 0
    assert "CartesianProduct" not in f["plan"]


def test_points_in_zones_broadcasts_edges_only(spark, sf_dir):
    """The literal edge table is the only NLJ-shaped side (a broadcast
    of a dozen rows); the containment math itself is codegen over the
    point scan, never a point x point join."""
    f = _facts(spark, sf_dir, "points_in_zones")
    assert "CartesianProduct" not in f["plan"]
    assert f["sortmerge_joins"] == 0


def test_embedding_covariance_single_shuffle(spark, sf_dir):
    """The outer-product explode reduces map-side into d(d+1)/2 cells:
    exactly one aggregation exchange, no joins at all."""
    f = _facts(spark, sf_dir, "embedding_covariance")
    assert f["broadcast_joins"] == 0
    assert f["sortmerge_joins"] == 0
    assert f["nested_loop_joins"] == 0


def test_ols_two_factor_is_aggregate_only(spark, sf_dir):
    """Normal-equations fit: aggregates plus one bounded dim join —
    no sort-merge, no NLJ, no window (no per-row sort at scale)."""
    f = _facts(spark, sf_dir, "ols_two_factor")
    assert f["sortmerge_joins"] == 0
    assert f["nested_loop_joins"] == 0
    assert "Window" not in f["plan"]


def test_bigram_surprisal_count_table_not_hint_broadcast(spark, sf_dir):
    """The (a, b) bigram count table grows with the corpus; the plan
    must not carry a FORCED broadcast of it (AQE may still choose one
    at this scale — the assertion is on the logical hint, so we check
    the join condition survived as an equi-join and nothing planned a
    cartesian)."""
    f = _facts(spark, sf_dir, "bigram_surprisal")
    assert "CartesianProduct" not in f["plan"]
    # the only NLJ-shaped nodes allowed are the 1-row vsize stat attach
    # (BroadcastNestedLoopJoin over a single-row aggregate — sanctioned);
    # the corpus-sized counts/firsts joins must stay equi-shaped
    assert f["nested_loop_joins"] <= 2
    assert f["plan"].count("BroadcastNestedLoopJoin") == f["nested_loop_joins"]


def test_bootstrap_expand_collapses_before_shuffle(spark, sf_dir):
    """bootstrap_ci's x32 explode must feed a partial aggregate before
    any exchange — the shuffle carries at most B rows per task, never
    the expanded rows."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["bootstrap_ci"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a partial HashAggregate must appear below the exchange: Spark
    # prints partial_ aggregates in the functions list
    assert "partial_sum" in plan or "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_prorate_windows_share_one_exchange(spark, sf_dir):
    """prorate_order_total's two window passes partition identically
    (l_orderkey), so the plan needs exactly one hash exchange for
    them (plus the join's)."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["prorate_order_total"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both windows keyed on l_orderkey: no second repartitioning
    # between Window nodes (a Window directly above a Window/Sort)
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_target_encode_broadcasts_category_stats(spark, sf_dir):
    """target_encode_loo's category stats are enum-bounded and must
    come back as a broadcast join, leaving the fact un-shuffled."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["target_encode_loo"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_frequent_triples_no_nested_loop_on_data_sides(spark, sf_dir):
    """frequent_triples' basket enumeration and semi-join prunes are
    all equi-keyed; the only nested-loop allowed is the 1-row
    n_orders stat attach."""
    import __spark_entry__ as entrymod

    import re

    df = entrymod.queries()["frequent_triples"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the 1-row n_orders stat attach is the only BNLJ shape allowed;
    # it appears once per semi-join branch because the pairs subplan
    # is re-derived (cheap: the broadcast side is a single row)
    for m in re.finditer(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "n_orders" in m.group(0), m.group(0)


def test_decision_walks_are_single_pass_maps(spark, sf_dir):
    """debounce_events and capped_running_sum walk decision-dependent
    per-user state as ONE sorted-partition mapInPandas pass — a
    per-group FlatMapGroupsInPandas here would pay a pandas-frame
    construction per user (millions of tiny groups at corpus scale;
    measured 6.0 s vs 2.2 s at sf0.1 for debounce). The plan must show
    the map form over a hash exchange + in-partition sort, and no
    grouped-map node."""
    for name in ("debounce_events", "capped_running_sum"):
        f = _facts(spark, sf_dir, name)
        assert "MapInPandas" in f["plan"], name
        assert "FlatMapGroupsInPandas" not in f["plan"], name
        assert "hashpartitioning(user_id" in f["plan"], name


def test_two_pass_rewrites_keep_global_windows_bounded(spark, sf_dir):
    """peak_concurrency / feature_deciles / pareto_8020 /
    abc_classification / lorenz_deciles were rewritten in r8 from
    single-partition windows over ENTITY-GRAIN rows to bounded two-pass
    histogram forms (commits 26b4719, ded8693). Pin the shape so a
    refactor can't silently reintroduce the global window: every
    Exchange SinglePartition in these plans must be fed directly by a
    final Aggregate (the bounded value-domain / day-grain histogram —
    ≤4096 buckets regardless of corpus size), never by raw scan/join
    output whose row count grows with the data."""
    import re

    import __spark_entry__ as entrymod

    agg_child = re.compile(r"^(\*\(\d+\) )?(Hash|Sort|ObjectHash)Aggregate")
    for name in (
        "peak_concurrency",
        "feature_deciles",
        "pareto_8020",
        "abc_classification",
        "lorenz_deciles",
    ):
        df = entrymod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        singles = [
            i for i, l in enumerate(lines) if "Exchange SinglePartition" in l
        ]
        for i in singles:
            child = lines[i + 1].lstrip(" :+-")
            assert agg_child.match(child), (name, lines[i + 1])


def _point_entry_at(monkeypatch, entrymod, directory):
    """The rotation scans CORRECTNESS_r*.json next to the entry module."""
    monkeypatch.setattr(entrymod, "__file__", str(directory / "__spark_entry__.py"))


def test_driver_rounds_over_synthetic_artifacts(tmp_path, monkeypatch):
    """Red-then-green resolves to green; green-then-red is an unresolved
    red; a malformed artifact (bad JSON, non-dict payload or row) is
    skipped without hiding the good ones."""
    import json

    import __spark_entry__ as entrymod

    green = {"err": None, "rows_match": True, "hash_match": None}
    red = {"err": None, "rows_match": False}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"fixed": red, "broke": green, "steady": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"fixed": green, "broke": {"err": "boom"}, "odd": "x"})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    (tmp_path / "CORRECTNESS_r04.json").write_text(json.dumps(["steady"]))
    _point_entry_at(monkeypatch, entrymod, tmp_path)
    green_rounds, reds = entrymod._driver_rounds()
    assert green_rounds == {"fixed": 2, "broke": 1, "steady": 1}
    assert reds == {"broke"}


def test_gate_rotation_over_committed_artifacts_is_pinned(tmp_path, monkeypatch):
    """queries() order over the 16 committed CORRECTNESS_r*.json
    artifacts, pinned by digest: a refactor of the artifact scan must
    not move a single query. Re-pin only when the query set changes."""
    import hashlib
    import os
    import shutil

    import __spark_entry__ as entrymod

    here = os.path.dirname(os.path.abspath(entrymod.__file__))
    for i in range(1, 17):
        shutil.copy(os.path.join(here, f"CORRECTNESS_r{i:02d}.json"), tmp_path)
    _point_entry_at(monkeypatch, entrymod, tmp_path)
    q = list(entrymod.queries())
    assert len(q) == 384
    assert q[:3] == ["lang_source_matrix", "dom_billing_cycle", "chars_integrity"]
    digest = hashlib.sha256("\n".join(q).encode()).hexdigest()
    assert digest == (
        "08bcc010956ad7e5b7500273fae405591b991f8e60fa2051a6b74a32a1d02828"
    )
