"""Skew salting, skew-gate and heavy-hitter behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark.operators import skew
from data_lake_for_citi_bike_trip_spark.plans.explain import executed_plan
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    # manufacture skew: every row lands on one join key
    skewed = events.select(F.lit(1).alias("k"), "event_id", "value")
    dim = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, label string")

    salted = skew.salted_join(skewed, dim, on="k", salt_from="event_id", buckets=8)
    plain = skewed.join(dim, "k")
    assert salted.count() == plain.count()
    assert salted.where(F.col("label") != "hot").count() == 0
    # the join key actually includes the salt (scatter happened)
    assert "__salt" in executed_plan(skew.salted_join(skewed, dim, "k", "event_id", 8))


def test_key_skew_profile_orders_and_shares(spark):
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.operators import skew

    df = spark.createDataFrame(
        [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10, "k string"
    )
    rows = skew.key_skew_profile(df, "k", top_k=2).collect()
    assert [(r.key_value, r.n_rows, r.share_e4) for r in rows] == [
        ("hot", 60, 6000),
        ("warm", 30, 3000),
    ]


def test_planted_skew_triggers_aqe_skew_join_split(session_clone):
    """Protects the 100x-scale claim: a deliberately skewed sort-merge
    join must come out of AQE with the hot partition SPLIT (the plan's
    SMJ node carries skew=true). Confs are scoped to a session clone so
    the lowered thresholds can't leak into other tests."""
    from pyspark.sql import functions as F

    sess = session_clone
    sess.conf.set("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    sess.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1MB"
    )
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
    # force a sort-merge join — AQE skew splitting doesn't apply to BHJ
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.shuffle.partitions", "8")

    # 300k rows of key 0 (with ~64B padding => ~20MB hot partition)
    # against 10k rows spread over 10k keys
    # pad must be non-constant (a literal would constant-fold out of the
    # plan) and incompressible (shuffle partition sizes are compressed
    # bytes; 300k identical values deflate below any threshold)
    big = sess.range(310_000).select(
        F.when(F.col("id") < 300_000, F.lit(0))
        .otherwise(F.col("id") % 10_000)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    small = sess.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # NB: global agg, not groupBy(k) — splitting a skewed partition breaks
    # hash-partitioning, so AQE refuses the split when a downstream
    # operator requires distribution on the join key; and sum(length(pad))
    # keeps the padding column un-pruned so the hot partition's bytes are
    # actually skewed.
    joined = big.join(small, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.length("pad")).alias("pad_bytes")
    )
    row = joined.collect()[0]
    # 300k planted + id=300000 (300000 % 10000 == 0) from the long tail,
    # + 9_999 one-row tail keys; correctness unaffected by the split
    assert row.n == 310_000
    assert row.pad_bytes == 310_000 * 64  # sha2-256 hex = 64 chars
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final_plan
    assert "skew=true" in final_plan, final_plan


def test_minhash_band_join_planted_skew_gets_aqe_split(session_clone):
    """The documented dedup failure mode (dedup.py:17-22): a hot band
    bucket planted via a block of identical documents, which share
    every band key. HISTORY: pre-collapse, the correct outcome was an
    AQE skew split (skew=true on the band SMJ). Since the signature
    collapse the identical block reduces to ONE representative before
    banding, so the hot bucket never reaches the join at all — the
    stronger fix. This test now pins that posture: (a) the pair output
    contract is unchanged (every identical pair at est_jaccard 1.0),
    and (b) the quadratic intra emission runs through the SALTED pair
    join (the __s salt key is visible in the final plan) instead of a
    single-group-key join. Thresholds are still lowered on a session
    clone so a regression that reintroduces the hot bucket would show
    up as a skew split or a single fat partition."""
    from data_lake_for_citi_bike_trip_spark.operators import dedup

    sess = session_clone
    sess.conf.set("spark.sql.adaptive.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    sess.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    sess.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4KB"
    )
    sess.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.shuffle.partitions", "8")

    hot_n, tail_n = 400, 200
    hot = [(i, "the quick brown fox jumps over the lazy dog again") for i in range(hot_n)]
    tail = [
        (hot_n + i, f"tail document {i} with its own distinct words number {i * 7}")
        for i in range(tail_n)
    ]
    docs = sess.createDataFrame(hot + tail, "doc_id bigint, text string")

    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.9)
    # every identical-doc pair survives at est_jaccard 1.0 (collect the
    # SAME DataFrame whose executed plan is inspected below)
    rows = pairs.collect()
    n_pairs = sum(1 for r in rows if r.est_jaccard >= 0.999)
    assert n_pairs >= hot_n * (hot_n - 1) // 2
    final_plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final_plan
    # the salted intra join keys on (__g, __s) — match the salt key as a
    # real join attribute (`__s#<exprId>`), not a loose substring that
    # any attribute containing "__s" would satisfy
    import re

    assert re.search(r"__s#\d+", final_plan), final_plan[:4000]
    # and pin that the collapse truly removed the hot bucket: no join in
    # the final plan needed an AQE skew split (a regression that lets
    # the identical-document block reach the band join would show up
    # here as skew=true or as a single fat partition)
    assert "skew=true" not in final_plan, final_plan[:4000]
