"""Dedup / similarity semantics tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_for_citi_bike_trip_spark import caching
from data_lake_for_citi_bike_trip_spark.operators import dedup, similarity
from data_lake_for_citi_bike_trip_spark.sources.registry import load_table


def test_exact_duplicates_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    out = dedup.exact_duplicates(docs.unionAll(copies)).cache()
    n_docs = docs.count()
    assert out.count() == n_docs  # one row per distinct text
    dupes = out.where(F.col("copies") == 2)
    assert dupes.count() == docs.where(F.col("doc_id") % 10 == 0).count()
    # survivor is always the original, not the re-keyed copy
    assert dupes.where(F.col("survivor_doc_id") >= 1000000).count() == 0
    out.unpersist()


def test_minhash_agrees_with_true_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    est = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    true = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    est_pairs = {(r.d1, r.d2) for r in est.collect()}
    true_pairs = {(r.d1, r.d2) for r in true.collect()}
    assert true_pairs, "testdata should contain planted near-dups"
    # banded LSH at these settings should recover the high-jaccard pairs
    recall = len(est_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.8, (recall, est_pairs, true_pairs)


def test_embedding_dup_pairs_find_planted_copies(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 2.0).alias("embedding"),
    )
    out = dedup.embedding_dup_pairs(emb.unionAll(planted), threshold=0.999)
    got = {(r.d1, r.d2): r.cos_sim for r in out.collect()}
    expected_n = emb.where(F.col("vec_id") % 20 == 0).count()
    assert len(got) == expected_n
    assert all(v == 1.0 for v in got.values())


def test_cosine_topk_is_exact_and_ranked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk(emb, emb.where(F.col("vec_id") < 2), k=5)
    rows = out.collect()
    assert len(rows) == 10  # 2 queries x k
    for q in (0, 1):
        sims = [r.cos_sim for r in rows if r.q_id == q]
        assert sims == sorted(sims, reverse=True)
    assert all(r.vec_id != r.q_id for r in rows)  # self excluded


def test_ivf_search_recall_vs_brute_force(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    ivf_index = similarity.build_ivf_index(emb, k=8, iters=2)
    try:
        assert ivf_index.centroids.count() == 8
        ivf = similarity.ivf_search(ivf_index, queries, k=10, nprobe=4)
        bf = similarity.cosine_topk(emb, queries, k=10)
        ivf_pairs = {(r.q_id, r.vec_id) for r in ivf.collect()}
        bf_pairs = {(r.q_id, r.vec_id) for r in bf.collect()}
        recall = len(ivf_pairs & bf_pairs) / len(bf_pairs)
        # nprobe=4 of 8 clusters scans ~half the corpus; near-random
        # vectors put ~half the true neighbors in probed lists
        assert recall >= 0.35, recall
        # every query produced a full top-k from its probed lists
        assert ivf.groupBy("q_id").count().where(F.col("count") != 10).count() == 0
    finally:
        caching.release_caches()


def test_ivf_exhaustive_probe_equals_brute_force(spark, sf_dir):
    """nprobe == centroid count scans every inverted list — the routed
    plan must then reproduce brute-force top-k exactly (the property the
    ann_ivf_topk oracle relies on), regardless of what k-means learned."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    n_registered = caching.registered_count()
    ivf_index = similarity.build_ivf_index(emb, k=8, iters=1)
    assert caching.registered_count() == n_registered + 2  # centroids + lists
    try:
        ivf = similarity.ivf_search(ivf_index, queries, k=10, nprobe=8)
        bf = similarity.cosine_topk(emb, queries, k=10)
        ivf_rows = {(r.q_id, r.vec_id, r.cos_sim, r.rank) for r in ivf.collect()}
        bf_rows = {(r.q_id, r.vec_id, r.cos_sim, r.rank) for r in bf.collect()}
        assert ivf_rows == bf_rows
        # index reuse: a second search must not retrain (cached relation)
        again = similarity.ivf_search(ivf_index, queries, k=3, nprobe=2)
        assert again.groupBy("q_id").count().where(F.col("count") > 3).count() == 0
    finally:
        caching.release_caches()


def test_ngram_jaccard_frequency_cap(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_frequency=None)
    # cap=1.0 drops nothing (no shingle is in >100% of docs)
    capped_noop = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_frequency=1.0)
    a = {(r.d1, r.d2) for r in uncapped.collect()}
    b = {(r.d1, r.d2) for r in capped_noop.collect()}
    assert a == b
    # an aggressive cap still finds the planted near-dup pairs (their
    # shared shingles are rare by construction)
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.5, max_doc_frequency=0.05)
    c = {(r.d1, r.d2) for r in capped.collect()}
    assert a <= c or len(c & a) / len(a) >= 0.9, (len(a), len(c & a))


def test_simhash_banding_recovers_split_errors(spark):
    """Pigeonhole guarantee: hamming<=4 pairs MUST surface even when the
    bit errors are split 2+2 across the old 16-bit halves (the round-1
    2-band scheme silently missed exactly these)."""
    base = 0b1010_1100_0011_0101_1001_0110_1100_0011
    cases = {
        # 2 errors in low half + 2 in high half — old scheme's blind spot
        2: base ^ (1 << 3) ^ (1 << 12) ^ (1 << 18) ^ (1 << 25),
        # one error in each of bands 0..3 (offsets 0,7,14,20) — only band 4 clean
        3: base ^ (1 << 3) ^ (1 << 8) ^ (1 << 15) ^ (1 << 21),
        # hamming=5 must be rejected by the exact verify stage
        4: base ^ (1 << 1) ^ (1 << 9) ^ (1 << 16) ^ (1 << 22) ^ (1 << 30),
    }
    sigs = spark.createDataFrame(
        [(1, base)] + [(k, v) for k, v in cases.items()],
        "doc_id long, simhash long",
    )
    got = {(r.d1, r.d2): r.hamming for r in
           dedup.simhash_pairs_from_signatures(sigs, max_hamming=4).collect()}
    assert (1, 2) in got and got[(1, 2)] == 4
    assert (1, 3) in got and got[(1, 3)] == 4
    assert all(h <= 4 for h in got.values())  # verify stage bounds output


def test_simhash_band_layout_covers_hash():
    for n_bands in (2, 5, 8):
        layout = dedup.simhash_band_layout(n_bands)
        assert len(layout) == n_bands
        assert sum(w for _, w in layout) == 32
        # contiguous, non-overlapping
        off = 0
        for o, w in layout:
            assert o == off
            off += w


def test_ngram_hot_shingle_cap_is_default_on(spark):
    """A shingle present in every doc is a quadratic scale-killer; the
    default frequency cap must drop it before the posting self-join."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma unique{i} token{i} word{i}") for i in range(40)],
        "doc_id long, text string",
    )
    # uncapped: all 780 pairs share the hot 'alpha beta gamma' shingle
    uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_doc_frequency=None)
    assert uncapped.count() == 40 * 39 // 2
    # default cap drops the stop-shingle -> no candidate pairs at all
    capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01)
    assert capped.count() == 0


def test_connected_components_chain_and_singletons(spark):
    """A 4-node chain (1-2, 2-3, 3-4) must collapse to one cluster even
    though 1 and 4 share no edge (transitivity needs >1 propagation
    round); disjoint pairs and singletons keep their own clusters."""
    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (6, 5)], "src long, dst long"
    )
    out = {r.id: r.cluster_id for r in dedup.connected_components(nodes, edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches per-round materialization to RELIABLE
    checkpoint(): same labels as localCheckpoint, and RDD checkpoint
    files actually land under the directory (cluster-survivable state)."""
    import os

    ckpt = str(tmp_path / "cc_ckpt")
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long")
    out = {
        r.id: r.cluster_id
        for r in dedup.connected_components(
            nodes, edges, checkpoint_dir=ckpt
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    written = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert written, "reliable checkpoint() should write files under checkpoint_dir"


def test_connected_components_warns_when_iteration_capped(spark):
    """A 5-node chain cannot converge in 1 round -> RuntimeWarning."""
    import warnings

    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(nodes, edges, max_iters=1).collect()
    assert any("zero-change round" in str(w.message) for w in caught)


def test_dedup_clusters_survivor_per_cluster(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)], "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 3), (3, 7), (5, 6)], "d1 long, d2 long")
    out = dedup.dedup_clusters(docs, pairs).collect()
    survivors = {r.doc_id for r in out if r.is_survivor}
    assert survivors == {0, 1, 2, 4, 5, 8, 9}
    clusters = {r.doc_id: r.cluster_id for r in out}
    assert clusters[7] == 0 and clusters[3] == 0 and clusters[6] == 5


def test_mutual_knn_is_symmetric_subset(spark, sf_dir):
    from data_lake_for_citi_bike_trip_spark.operators import similarity
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    edges = similarity.knn_graph(emb, k=5)
    mutual = similarity.mutual_knn_pairs(emb, k=5)
    directed = {(r.src, r.dst) for r in edges.collect()}
    pairs = [(r.v1, r.v2) for r in mutual.collect()]
    assert len(pairs) > 0
    for v1, v2 in pairs:
        assert (v1, v2) in directed and (v2, v1) in directed
        assert v1 < v2


def test_keep_best_prefers_high_score(spark):
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (4, 7)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "d1 long, d2 long")
    out = {r.doc_id: (r.cluster_id, r.is_keeper) for r in
           dedup.dedup_keep_best(docs, pairs).collect()}
    # component {1,2,3}: keeper is 2 (score 9, lower id than 3)
    assert out[1] == (1, False)
    assert out[2] == (1, True)
    assert out[3] == (1, False)
    assert out[4] == (4, True)  # singleton keeps itself


def test_incremental_dedup_tiers(spark):
    """Planted shard: one exact copy, one near copy (shared shingles),
    one genuinely new doc — each tier flags its own, exact wins ties."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    old = spark.createDataFrame(
        [(1, base), (2, "completely unrelated text about spark plans")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (100, base),                                    # exact copy of 1
            (101, base + " with a tiny suffix change"),     # near copy of 1
            (102, "nothing like anything in the old corpus at all here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup.incremental_dedup(old, new, 0.5).collect()}
    assert rows[100].reason == "exact" and rows[100].dup_of == 1
    assert rows[101].reason == "near" and rows[101].dup_of == 1
    assert rows[102].is_dup is False and rows[102].reason is None
    assert rows[100].is_dup and rows[101].is_dup


def test_incremental_dedup_consistent_with_batch_minhash(spark, sf_dir):
    """Every near-tier flag raised by the incremental (new-vs-old) path
    must correspond to a pair the full-corpus batch pipeline would also
    surface across the shard boundary, with the same threshold."""
    docs = load_table(spark, sf_dir, "documents")
    new_sources = ("src0", "src1", "src2", "src3", "src4")
    new = docs.where(F.col("source").isin(*new_sources))
    old = docs.where(~F.col("source").isin(*new_sources))
    inc = dedup.incremental_dedup(old, new, threshold=0.5)
    near = {(r.doc_id, r.dup_of) for r in inc.where(F.col("reason") == "near").collect()}

    batch = dedup.minhash_lsh_pairs(docs, threshold=0.5)
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    cross = set()
    for r in batch.collect():
        if (r.d1 in new_ids) != (r.d2 in new_ids):  # one side new, one old
            nd = r.d1 if r.d1 in new_ids else r.d2
            od = r.d2 if r.d1 in new_ids else r.d1
            cross.add((nd, od))
    # each incremental near flag picks min(old) among its cross-boundary
    # matches — so its (new, dup_of) pair must appear in the batch set
    for nd, od in near:
        assert (nd, od) in cross, (nd, od)
    # and every new doc with any cross-boundary batch pair is flagged
    flagged = {nd for nd, _ in near} | {
        r.doc_id for r in inc.where(F.col("reason") == "exact").collect()
    }
    assert {nd for nd, _ in cross} <= flagged


def test_jaccard_prefix_filter_prunes_but_loses_nothing(spark, sf_dir):
    """Prefix candidate generation must be a strict subset of the
    all-shingles candidate space (pruning is real) while the final
    pair set equals brute force (pruning is lossless)."""
    import pyspark.sql.functions as F

    from data_lake_for_citi_bike_trip_spark.operators import dedup
    from data_lake_for_citi_bike_trip_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.doc_a, r.doc_b): r.jaccard_e4
        for r in dedup.jaccard_prefix_join(docs).collect()
    }
    # brute force in python
    rows = docs.select("doc_id", F.lower("text").alias("t")).collect()
    import re

    sh = {}
    for r in rows:
        ws = re.split(r"[^a-z]+", r.t)
        sh[r.doc_id] = {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        }
    expect = {}
    ids = sorted(sh)
    n_cand_all = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            n_cand_all += 1
            uni = len(sh[a] | sh[b])
            j = (10000 * inter) // uni
            if j >= 6000:
                expect[(a, b)] = j
    assert got == expect and got, (len(got), len(expect))
    assert n_cand_all > 10 * len(expect), "corpus too clean to prove pruning"


def test_jaccard_prefix_short_docs_no_crash(spark):
    """Docs whose split yields <3 tokens have no trigram shingles; they
    must produce no rows (matching the oracle's empty generate_series)
    instead of crashing on sequence(1, size-2) auto-descending into
    element_at(ws, 0) (INVALID_INDEX_OF_ZERO)."""
    from data_lake_for_citi_bike_trip_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, ""),                      # 0 usable tokens
            (2, "word"),                  # 1 token
            (3, "two words"),             # 2 tokens -> no trigram
            (4, "alpha beta gamma delta epsilon zeta"),
            (5, "alpha beta gamma delta epsilon zeta"),  # exact dup of 4
        ],
        "doc_id bigint, text string",
    )
    rows = dedup.jaccard_prefix_join(docs).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == {(4, 5)}
    assert rows[0].jaccard_e4 == 10000


def test_embedding_collapse_matches_naive_with_exact_copies(spark, sf_dir):
    """The r9 exact-duplicate collapse must be output-identical to the
    naive all-pairs-in-bucket form on a corpus with byte-identical
    copies — including a NaN-containing duplicate GROUP: Spark orders
    NaN GREATER than every double, so a NaN cosine passes the
    >= threshold filter and the pair is KEPT — and the collapse must
    reproduce exactly that (intra-group via the NaN self-cosine,
    cross-group via the representative's NaN pair score). Zero-norm
    vectors raise DIVIDE_BY_ZERO under ANSI mode in BOTH forms —
    loud-fail parity."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 40)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    dim = len(emb.first().embedding)
    copies = emb.where(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding"
    )
    more = emb.where(F.col("vec_id") % 4 == 0).select(
        (F.col("vec_id") + 2000).alias("vec_id"), "embedding"
    )
    nan_vec = [float("nan")] + [1.0] * (dim - 1)
    nans = spark.createDataFrame(
        [(9001, nan_vec), (9002, nan_vec)],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.unionAll(copies).unionAll(more).unionAll(nans)
    got = {
        (r.d1, r.d2): r.cos_sim
        for r in dedup.embedding_dup_pairs(corpus, threshold=0.999).collect()
    }
    # naive reference: bucket join over ALL vectors, no collapse —
    # at the SAME auto-derived width the operator chose for this corpus
    from data_lake_for_citi_bike_trip_spark.functions import vectors as V
    from data_lake_for_citi_bike_trip_spark.operators import similarity

    bits = similarity.auto_bucket_bits(corpus)
    e = corpus.select(
        "vec_id", F.col("embedding").alias("v")
    ).withColumn("bucket", V.sign_bucket(F.col("v"), bits))
    a, b = e.alias("a"), e.alias("b")
    naive = {
        (r.d1, r.d2): r.cos_sim
        for r in (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.vec_id") < F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("d1"),
                F.col("b.vec_id").alias("d2"),
                V.cosine_r6(F.col("a.v"), F.col("b.v")).alias("cos_sim"),
            )
            .where(F.col("cos_sim") >= 0.999)
        ).collect()
    }
    import math

    def canon(d):
        return {
            k: ("NaN" if isinstance(v, float) and math.isnan(v) else v)
            for k, v in d.items()
        }

    assert canon(got) == canon(naive)
    # the duplicated triples produced cross-copy pairs...
    assert (0, 1000) in got and (0, 2000) in got and (1000, 2000) in got
    # ...and the NaN group's pairs are present with NaN scores (Spark's
    # NaN-is-greatest ordering keeps them in both forms)
    assert math.isnan(got[(9001, 9002)])


def test_star_edges_cluster_identically_to_full_pairs(spark, sf_dir):
    """embedding_dup_edges_for_clustering feeds O(n) star edges per
    exact-duplicate group instead of the C(n,2) clique; the resulting
    clusters (via dedup_clusters) must be IDENTICAL to clustering the
    full contractual pair set."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 30)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    copies = emb.where(F.col("vec_id") % 3 == 0).select(
        (F.col("vec_id") + 500).alias("vec_id"), "embedding"
    )
    corpus = emb.unionAll(copies)
    full = dedup.dedup_clusters(
        corpus, dedup.embedding_dup_pairs(corpus, threshold=0.999), id_col="vec_id"
    )
    star = dedup.dedup_clusters(
        corpus,
        dedup.embedding_dup_edges_for_clustering(corpus, threshold=0.999),
        id_col="vec_id",
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, star.collect())
    )


def test_jaccard_collapse_matches_naive_on_duplicate_heavy_corpus(spark):
    """jaccard_prefix_join's exact-duplicate collapse must reproduce the
    naive result on a corpus saturated with exact copies — including
    intra-group pairs at jaccard_e4 == 10000 with inter == uni == the
    trigram-set size, and near-dup pairs BETWEEN different duplicate
    groups expanded to every member combination."""
    base = [
        "the quick brown fox jumps over the lazy dog today",
        "the quick brown fox jumps over the lazy dog tonight",
        "completely unrelated text about database partitioning strategies",
    ]
    rows = []
    for rep in range(4):
        for j, t in enumerate(base):
            rows.append((rep * 10 + j, t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.jaccard_prefix_join(docs, threshold_e1=6)
    got = {(r.doc_a, r.doc_b): (r.inter, r.uni, r.jaccard_e4) for r in out.collect()}
    # intra-group: doc 0/10/20/30 identical -> C(4,2)=6 pairs at 10000
    intra_0 = [(a, b) for (a, b) in got if a % 10 == 0 and b % 10 == 0]
    assert len(intra_0) == 6
    assert all(got[p][2] == 10000 and got[p][0] == got[p][1] for p in intra_0)
    # inter-group: every (fox-today, fox-tonight) member combination
    cross = [(a, b) for (a, b) in got if {a % 10, b % 10} == {0, 1}]
    assert len(cross) == 16  # 4 members x 4 members
    assert len({got[p] for p in cross}) == 1  # identical scores
    # the unrelated text pairs only with its own copies
    unrelated = [(a, b) for (a, b) in got if a % 10 == 2 or b % 10 == 2]
    assert all(a % 10 == 2 and b % 10 == 2 for a, b in unrelated)


def test_salted_intra_pairs_exactly_once_property(spark):
    """_salted_intra_pairs must emit every unordered intra-group pair
    EXACTLY once with its group-constant payload, for group sizes both
    below and above the salt factor AND on both sides of the whale gate
    (the left row's salt matches exactly one right-side replica — a
    double emission or a dropped salt bucket would corrupt every
    duplicate-heavy dedup output; a gate inconsistency between the two
    sides would drop or duplicate whole salt buckets)."""
    rows = (
        [("g1", i, 7) for i in range(5)]            # m < salt, ungated
        + [("g2", 100 + i, 9) for i in range(40)]   # salt < m < whale_min
        + [("g3", 900, 3)]                          # singleton: no pairs
        + [("g4", 1000 + i, 4) for i in range(300)]  # m >= whale_min: salted
    )
    members = spark.createDataFrame(rows, "grp string, doc_id long, sz long")
    expected = {"g1": 5 * 4 // 2, "g2": 40 * 39 // 2, "g3": 0,
                "g4": 300 * 299 // 2}
    payload = {"g1": 7, "g2": 9, "g4": 4}
    for kwargs in ({}, {"size_col": "__precomputed"}):
        inp = members
        if kwargs:
            # caller-threaded group size (the free-rider column every
            # collapse computes in its rep aggregation)
            from pyspark.sql import Window

            inp = members.withColumn(
                "__precomputed",
                F.count(F.lit(1)).over(Window.partitionBy("grp")),
            )
        out = dedup._salted_intra_pairs(
            inp, "grp", "doc_id", payload=["sz"], salt=16, **kwargs
        ).collect()
        got = {}
        for r in out:
            got[(r.grp, r.id_a, r.id_b)] = got.get((r.grp, r.id_a, r.id_b), 0) + 1
            assert r.id_a < r.id_b
            assert r.sz == payload[r.grp]
        assert all(v == 1 for v in got.values()), "duplicate pair emission"
        for g, n in expected.items():
            assert len([k for k in got if k[0] == g]) == n, (kwargs, g)
