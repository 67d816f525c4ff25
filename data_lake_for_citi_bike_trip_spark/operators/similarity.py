"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``  — brute-force exact top-k: queries broadcast against
  the corpus, per-query window rank. The baseline; at 100 TB this is the
  map-side-only plan (corpus never shuffles — the tiny query set is the
  broadcast side, ranking shuffles only (q, k) candidate rows if AQE
  chooses; acceptable because output is q*k rows).
- ``lsh_bucket_topk`` — the scale path: corpus pre-bucketed by a
  deterministic sign-pattern LSH; each query probes only its bucket, so
  per-query work drops by the bucket fan-out (2^bits). Recall/latency is
  tuned by ``bucket_bits`` (fewer bits = higher recall, more work). An
  IVF variant (k-means centroids) slots into the same shape with learned
  buckets.

Ordering is on round(cos, 6) with vec_id tie-break — deterministic and
cross-engine stable (see oracles.py parity rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..functions import vectors as V
from ..session import spread
from .skew import salted_candidates


def _overlap_jobs(*thunks):
    """Run independent driver-blocking jobs concurrently so later jobs
    back-fill executors freed by the first one's straggler tail (guide
    §2.6)."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _prepared(embeddings: DataFrame) -> DataFrame:
    return spread(embeddings).select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )


def auto_bucket_bits(embeddings: DataFrame) -> int:
    """Corpus-size-derived sign-LSH width:
    ``bits = clamp(ceil(log2(n)) - 3, 4, 24)``.

    Blocked pair scoring costs sum over buckets of |bucket|², so holding
    nominal occupancy n / 2^bits ≈ 8 keeps total candidate work roughly
    linear in the corpus. Calibration (SOAK_r13 §4): at 500k vectors,
    12 bits under-partitions (123.6 s/rep) while 16 bits is right
    (21.2 s) — the formula gives 16 at 500k and 17 at 1M, so the
    measured-good cell is reproduced and larger corpora keep scaling.
    Floor 4 = the original 10k-testdata contract width (recall first on
    tiny corpora); cap 24 bounds the bucket string within dims (64 in
    the testdata) and multiprobe's (1 + bits)× probe fan-out.

    The count is one column-pruned scan per call, so the width follows
    the data as it is now. The DuckDB oracle derives the SAME width with
    ``CEIL(LOG2(COUNT(*)))`` over the same input, so the adaptive
    behavior itself is oracle-checked.
    """
    n = embeddings.count()
    return max(4, min(24, (max(n, 2) - 1).bit_length() - 3))


def cosine_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force)."""
    corpus = _prepared(embeddings)
    q = _prepared(queries).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = corpus.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        "vec_id",
        V.cosine_r6(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


def lsh_bucket_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 5, bucket_bits: int = 8
) -> DataFrame:
    """Approximate top-k: probe only the query's sign-pattern bucket."""
    corpus = _prepared(embeddings).withColumn(
        "bucket", V.sign_bucket(F.col("v"), bucket_bits)
    )
    q = (
        _prepared(queries)
        .select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
        .withColumn("bucket", V.sign_bucket(F.col("qv"), bucket_bits))
    )
    scored = corpus.join(F.broadcast(q), "bucket").where(
        F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        V.cosine_r6(F.col("qv"), F.col("v")).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF: k-means coarse quantizer + inverted lists. The scale path for ANN —
# probe cost drops from |corpus| to ~nprobe/k of it. Centroid training is
# an iterative driver loop of small Spark jobs (Lloyd's); assignment and
# search are single declarative plans. Non-SQL-expressible end-to-end
# (iterative float means), so the contract entry is rows-only.
# ---------------------------------------------------------------------------


def _l2sq(a, b):
    # fused/generic tiering lives in functions.vectors (r16): unrolled
    # codegen chain at the data-model width, HOF fold for any other
    return V.l2sq(a, b)


def _assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector (broadcast centroids, argmin via
    min_by — no window, no shuffle beyond the aggregation)."""
    scored = corpus.crossJoin(F.broadcast(centroids)).select(
        "vec_id", "v", "cid", _l2sq(F.col("v"), F.col("cv")).alias("d2")
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(F.col("cid"), F.struct(F.col("d2"), F.col("cid"))).alias("cid"),
            F.first("v").alias("v"),
        )
    )


def train_ivf_centroids(
    embeddings: DataFrame, k: int, iters: int = 3
) -> DataFrame:
    """Lloyd's k-means with deterministic init (the k lowest vec_ids).

    Each iteration: assign (map-side, centroids broadcast) then
    recompute per-dimension means via posexplode -> two-level aggregate.
    k*dim floats per iteration cross the driver — nothing else does."""
    corpus = _prepared(embeddings)
    centroids = (
        corpus.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cv"))
    )
    for _ in range(iters):
        assigned = _assign(corpus, centroids)
        dims = assigned.select("cid", F.posexplode("v").alias("pos", "x"))
        means = dims.groupBy("cid", "pos").agg(F.avg("x").alias("m"))
        centroids = (
            means.groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s.getField("m")).alias("cv"))
        )
    return centroids


class IVFIndex:
    """A built IVF index: broadcast-sized centroids + cached inverted
    lists (the corpus tagged with its nearest centroid id).

    Index CONSTRUCTION (k-means + assignment — the expensive, iterative
    part) is separated from SEARCH so that one built index serves every
    search in the plans that hold it. Both sides are registered with
    ``caching.cached`` (centroids feed the assignment AND query routing;
    the inverted lists feed every search), so they live until the
    caller's ``caching.release_caches``. On a real cluster the index
    DataFrame would instead be written as a parquet table bucketed by
    ``cid`` so searches shuffle nothing.
    """

    def __init__(self, centroids: DataFrame, index: DataFrame):
        self.centroids = centroids
        self.index = index


def build_ivf_index(embeddings: DataFrame, k: int, iters: int = 3) -> IVFIndex:
    """Train centroids and materialize the inverted-list assignment."""
    centroids = cached(train_ivf_centroids(embeddings, k=k, iters=iters))
    index = cached(_assign(_prepared(embeddings), centroids))
    return IVFIndex(centroids, index)


def ivf_search(
    ivf: IVFIndex, queries: DataFrame, k: int = 10, nprobe: int = 4
) -> DataFrame:
    """ANN search against a prebuilt index: route each query to its
    ``nprobe`` nearest centroids, scan only those inverted lists, rank
    by cosine. With ``nprobe`` >= the centroid count this degenerates to
    an exhaustive (exact) search routed through the same inverted-list
    plan — useful as an oracle-checkable configuration."""
    centroids, index = ivf.centroids, ivf.index
    q = _prepared(queries).select(F.col("vec_id").alias("q_id"), F.col("v").alias("qv"))
    q_routes = (
        q.crossJoin(F.broadcast(centroids))
        .select("q_id", "qv", "cid", _l2sq(F.col("qv"), F.col("cv")).alias("d2"))
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("cid"))
            ),
        )
        .where(F.col("probe_rank") <= nprobe)
        .select("q_id", "qv", "cid")
    )
    cand = q_routes.join(index, "cid").where(F.col("vec_id") != F.col("q_id"))
    scored = cand.select(
        "q_id", "vec_id", V.cosine_r6(F.col("qv"), F.col("v")).alias("cos_sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= k
    )


def knn_graph(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Exact k-nearest-neighbor GRAPH: for every vector, its top-k
    neighbors by cosine — the all-sources generalization of
    ``cosine_topk`` (queries == corpus).

    Exact kNN over n vectors is inherently O(n²) comparisons; this is
    the small-corpus / per-block building block. At 100 TB scale the
    same shape runs INSIDE candidate blocks from the LSH
    (``lsh_bucket_topk``) or IVF (``ivf_search``) partitioners — block
    sizes are bounded, so each block's local graph is cheap and
    embarrassingly parallel. The window top-k keeps only k rows per
    source past the shuffle (rank pushes partial TopK into the sort).
    """
    # Norms materialize once per VECTOR (n sqrt-reductions, not n^2):
    # the pair scorer then runs a single dot per pair. Bit-identical to
    # cosine_r6 per pair — see cosine_r6_prenormed.
    corpus = _prepared(embeddings).withColumn("nrm", V.norm(F.col("v")))
    src = corpus.select(
        F.col("vec_id").alias("src"),
        F.col("v").alias("sv"),
        F.col("nrm").alias("snrm"),
    )
    scored = corpus.join(F.broadcast(src), F.col("vec_id") != F.col("src")).select(
        "src",
        F.col("vec_id").alias("dst"),
        V.cosine_r6_prenormed(
            F.col("sv"), F.col("v"), F.col("snrm"), F.col("nrm")
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= k
    )


def _collapsed_knn_edges(
    embeddings: DataFrame,
    k: int,
    bucket_bits: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Exact kNN edges (src, dst, cos_sim, rank) — output-identical to
    scoring every member pair (``knn_graph`` / the blocked variants'
    inner scorer) but computed once per EXACT-DUPLICATE GROUP.

    Byte-identical vectors share their entire candidate list, so the
    per-member top-k is derived from group-level work (the same
    collapse as ``dedup.embedding_dup_pairs``; a 100-copy cluster would
    otherwise multiply candidate-pair scoring AND the top-k shuffle by
    100x100 — the r9 100x soak measured the naive blocked form spilling
    a multi-GB single-key sort on exactly that corpus):

    1. collapse members to min-id representatives (one keyed shuffle on
       the vector itself);
    2. score REP pairs only — all-pairs (bucket_bits None), same
       sign-bucket, or Hamming<=1 multiprobe buckets — INCLUDING the
       self pair, whose self-cosine stands in for every intra-group
       member pair (identical arrays -> identical float arithmetic);
    3. expand candidate groups to member-level candidates and take the
       group's top-(k+1) by the naive ordering (cos DESC, dst ASC) —
       k+1 because each member's personal list differs from the group
       list only by removing itself. The expansion volume is
       sum over groups of candidate MEMBERS, which equals the naive
       candidate-pair volume when every vector is unique and is 1/copy²
       of it when it isn't — never more;
    4. expand to src members, drop self, and re-rank the <=k+1 rows per
       src: row_number here equals the naive per-member rank exactly
       (nothing that precedes a top-k candidate was dropped: a dropped
       candidate has >= k+1 group-list predecessors, of which at most
       one — self — is removed for any member, leaving >= k ahead of
       it).

    NULL embeddings and NaN cosines follow the naive semantics by
    construction: grouping treats NULL/NaN keys as equal (cosine- and
    sign-bucket-safe), NULL cos_sim orders last / NaN first exactly as
    the naive window orders them, and ranks survive because the
    ordering never changes — only provably-unreachable rows are cut."""
    base = _prepared(embeddings)
    g = base.withColumn(
        "rep", F.min("vec_id").over(Window.partitionBy("v"))
    )
    members = g.select("vec_id", "rep")
    reps = (
        g.where(F.col("vec_id") == F.col("rep"))
        .select(F.col("vec_id").alias("rid"), "v")
        .withColumn("nrm", V.norm(F.col("v")))
    )
    cand_side = reps.select(
        F.col("rid").alias("h_id"),
        F.col("v").alias("hv"),
        F.col("nrm").alias("hnrm"),
    )
    if bucket_bits is None:
        # exact tier: every group pairs with every group (self included).
        # spread() re-parallelizes the stream side: AQE coalesces the
        # tiny post-collapse shuffle to one partition, and the cross
        # join then explodes |groups| -> |groups|² rows inside that
        # single task (measured 24s vs 3s at sf0.1) — fan back out
        # BEFORE the explosion so the pair scoring uses every core.
        q_side = spread(
            reps.select(
                F.col("rid").alias("g_id"),
                F.col("v").alias("gv"),
                F.col("nrm").alias("gnrm"),
            )
        )
        paired = q_side.crossJoin(F.broadcast(cand_side))
    else:
        # cached: the probe and candidate sides below AND
        # salted_candidates' eager pair-count gate all derive from it —
        # uncached, the gate job re-ran the rep collapse + bucketing.
        bucketed = cached(
            reps.withColumn("bucket", V.sign_bucket(F.col("v"), bucket_bits))
        )
        cand_side = bucketed.select(
            F.col("rid").alias("h_id"),
            F.col("v").alias("hv"),
            F.col("nrm").alias("hnrm"),
            "bucket",
        )
        if multiprobe:
            probe_expr = (
                f"concat(array(bucket), transform(sequence(1, {bucket_bits}), j -> "
                "concat(substring(bucket, 1, j - 1), "
                "case when substring(bucket, j, 1) = '1' then '0' else '1' end, "
                f"substring(bucket, j + 1, {bucket_bits}))))"
            )
            # NO broadcast hint on cand_side (it is corpus-sized —
            # grows with unique vectors — so a forced hint would blow
            # the broadcast limit at 100 TB; AQE still broadcasts it
            # when actually small). salted_candidates below fans the
            # probe side out itself (the AQE coalesce-then-explode
            # trap the exact tier's spread() guards against).
            q_side = bucketed.select(
                F.col("rid").alias("g_id"),
                F.col("v").alias("gv"),
                F.col("nrm").alias("gnrm"),
                F.explode(F.expr(probe_expr)).alias("bucket"),
            )
        else:
            q_side = bucketed.select(
                F.col("rid").alias("g_id"),
                F.col("v").alias("gv"),
                F.col("nrm").alias("gnrm"),
                "bucket",
            )
        # SALTED bucket join (skew.salted_candidates): a NEAR-identical
        # vector whale defeats the collapse above (arrays distinct) and
        # owns one sign bucket; the plain equi-join scored that
        # bucket's m² candidates in a single task (input kilobytes —
        # invisible to AQE's byte-keyed skew split — output quadratic).
        # Candidate SET is unchanged: each (probe, cand) combination,
        # self included, meets at exactly the probe row's salt; a home
        # bucket still matches exactly one multiprobe string, so no
        # pair scores twice.
        paired = salted_candidates(q_side, cand_side, "bucket", "g_id")
    rep_scored = paired.select(
        "g_id",
        "h_id",
        V.cosine_r6_prenormed(
            F.col("gv"), F.col("hv"), F.col("gnrm"), F.col("hnrm")
        ).alias("cos_sim"),
    )
    mcand = rep_scored.join(
        members.select(
            F.col("rep").alias("h_id"), F.col("vec_id").alias("dst")
        ),
        "h_id",
    ).select("g_id", "dst", "cos_sim")
    w_g = Window.partitionBy("g_id").orderBy(F.desc("cos_sim"), F.asc("dst"))
    glist = mcand.withColumn("grank", F.row_number().over(w_g)).where(
        F.col("grank") <= k + 1
    )
    edges = glist.join(
        members.select(
            F.col("rep").alias("g_id"), F.col("vec_id").alias("src")
        ),
        "g_id",
    ).where(F.col("dst") != F.col("src"))
    w_m = Window.partitionBy("src").orderBy(F.desc("cos_sim"), F.asc("dst"))
    return (
        edges.withColumn("rank", F.row_number().over(w_m).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("src", "dst", "cos_sim", "rank")
    )


def mutual_knn_pairs(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Mutual-kNN edges: unordered pairs where EACH vector is in the
    other's top-k — the standard robust edge set for density/cluster
    analysis over embeddings (one-sided kNN edges to hubs are noise;
    mutuality filters them).

    Mutuality is detected WITHOUT a self-join (which would re-run the
    expensive scoring pipeline for each side): every directed edge is
    canonicalized to (min, max) and grouped — a pair present twice has
    both directions. One pass over the edge list, one shuffle on the
    canonical pair, linear in edges (n·k rows). Edges come from the
    exact-duplicate-collapsed scorer (output-identical to knn_graph,
    including ranks — see ``_collapsed_knn_edges``)."""
    edges = _collapsed_knn_edges(embeddings, k)
    canon = edges.select(
        F.least("src", "dst").alias("v1"),
        F.greatest("src", "dst").alias("v2"),
        "cos_sim",
        F.when(F.col("src") < F.col("dst"), F.col("rank")).alias("rf"),
        F.when(F.col("src") > F.col("dst"), F.col("rank")).alias("rr"),
    )
    return (
        canon.groupBy("v1", "v2")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.max("cos_sim").alias("cos_sim"),
            F.max("rf").alias("rank_fwd"),
            F.max("rr").alias("rank_rev"),
        )
        .where(F.col("__n") == 2)
        .drop("__n")
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/bandwidth
    prep step for a vector index (4x smaller than float32, dot products
    in integer SIMD on the serving side).

    Per vector: scale = max(|x|), code_i = floor(127 * x_i / scale).
    floor (not round/cast) because engines disagree on round-half and
    double->int cast rules, while floor is IEEE-identical; every code is
    per-element arithmetic — no cross-row float accumulation anywhere.
    Pure higher-order functions per row, zero shuffle; codes emit as a
    comma-joined string at the contract edge (array cells hash
    engine-differently), with the scale in e6 micro-units.
    """
    v = V.as_double(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    # Zero-vector guard: scale == 0 would make every code 0/0 -> NULL
    # (and array_join would silently DROP the nulls, shortening the
    # string); define the all-zero vector as all-zero codes instead.
    codes = F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.floor(x * 127.0 / scale))
        .cast("bigint"),
    )
    return spread(embeddings).select(
        "vec_id",
        F.floor(scale * 1e6).cast("bigint").alias("scale_e6"),
        F.array_join(F.transform(codes, lambda c: c.cast("string")), ",").alias(
            "codes_i8"
        ),
        F.size(codes).cast("bigint").alias("dim"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compress vectors to m code bytes, score with
# asymmetric distance (query vs codebook lookup tables). The memory/IO
# scale path for billion-vector corpora — 64 doubles become m=4 small
# ints; at deployment scale PQ nests inside IVF lists (route, then ADC-
# score only the probed lists). Codebooks are deterministic (lowest-
# vec_id init, fixed Lloyd iterations) so behavior is reproducible and,
# in the LOSSLESS configuration (k=None: every distinct subvector is its
# own codeword), ADC cosine equals exact cosine computed in the same
# subspace-decomposed float order — giving the fully oracle-checkable
# entry, mirroring ivf_search's exhaustive-probe mode.
# ---------------------------------------------------------------------------


def _subvectors(df: DataFrame, id_col: str, m: int) -> DataFrame:
    """(id, m, sv): split each vector into m contiguous subspaces.
    An empty corpus has no observable dim — any split of nothing is
    nothing, so pretend dim == m and fall through to the empty frame."""
    row = df.select(F.size("v")).first()
    dim = m if row is None or row[0] is None or row[0] < 0 else row[0]
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m={m}"
    return df.select(
        F.col("vec_id").alias(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("m"),
                        F.slice("v", j * sub + 1, sub).alias("sv"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select(id_col, "s.m", "s.sv")


def _pq_assign(subs: DataFrame, codebooks: DataFrame, id_col: str) -> DataFrame:
    """Nearest codeword per (id, m): the whole codebook of a subspace
    collapses to ONE array row (k x m rows -> m rows, broadcast), and
    the argmin happens INSIDE a per-row expression —
    ``array_min(transform(codewords, c -> struct(l2(sv, c.cv),
    c.code)))`` — struct array_min orders lexicographically
    (d2 asc, code asc), the exact tie-break of the r12 row_number
    window. No |codebook|-times row expansion exists at ALL: the r12
    window form shuffled AND sorted the 64M-row distance stream at
    500k vectors, an intermediate min(struct) aggregate still planned
    as SortAggregate (struct-min has no fixed-width buffer, so
    HashAggregate is unavailable and every task sorts its slice) —
    this form emits one output row per input row with zero extra
    exchanges (SOAK_r13 §4b)."""
    cba = codebooks.groupBy("m").agg(
        F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("__cbs")
    )
    best = F.array_min(
        F.transform(
            "__cbs",
            lambda s: F.struct(
                _l2sq(F.col("sv"), s.getField("cv")).alias("d2"),
                s.getField("code").alias("code"),
            ),
        )
    )
    return subs.join(F.broadcast(cba), "m").select(
        id_col, "m", best.getField("code").alias("code")
    )


def build_pq_codebooks(
    embeddings: DataFrame, m: int = 4, k: int | None = 8, iters: int = 2
) -> DataFrame:
    """(m, code, cv) codebooks, all subspaces trained in ONE plan per
    Lloyd iteration (subspace index is just another grouping key).
    ``k=None`` -> lossless: every subvector becomes a codeword (code =
    rank of its vec_id within the subspace), no iterations."""
    subs = _subvectors(_prepared(embeddings), "vec_id", m)
    if k is None:
        # lossless oracle configuration: every subvector is a codeword,
        # code = rank of vec_id within the subspace. The m-partition
        # full sort is inherent to the exhaustive configuration and
        # only ever runs at oracle/testdata scale.
        w = Window.partitionBy("m").orderBy("vec_id")
        return subs.withColumn("code", F.row_number().over(w)).select(
            "m", "code", F.col("sv").alias("cv")
        )
    # initial codewords = the k lowest vec_ids' subvectors. Every
    # subspace holds the SAME vec_id set, so a distributed top-k on the
    # distinct ids (TakeOrderedAndProject — no wide sort) + a broadcast
    # semijoin reproduces the old per-m row_number <= k selection
    # exactly, without the m-task full-corpus window sort SOAK_r13 §4b
    # caught (at m=4, parallelism 4 on a 2M-subvector sort).
    first_ids = (
        subs.select("vec_id").distinct().orderBy("vec_id").limit(k)
    )
    codebooks = (
        subs.join(F.broadcast(first_ids), "vec_id")
        .withColumn(
            "code",
            F.row_number().over(Window.partitionBy("m").orderBy("vec_id")),
        )
        # duplicate vec_id rows in the input would re-inflate the
        # semijoin past k codewords (the old per-m row_number <= k form
        # capped unconditionally) — re-pin the cap so iteration 0's
        # codes always run 1..k
        .where(F.col("code") <= k)
        .select("m", "code", F.col("sv").alias("cv"))
    )
    for _ in range(iters):
        assigned = _pq_assign(subs, codebooks, "vec_id")
        dims = (
            assigned.join(subs, ["vec_id", "m"])
            .select("m", "code", F.posexplode("sv").alias("pos", "x"))
            .groupBy("m", "code", "pos")
            .agg(F.avg("x").alias("mu"))
        )
        codebooks = (
            dims.groupBy("m", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
            .select(
                "m", "code", F.transform("pm", lambda s: s.getField("mu")).alias("cv")
            )
        )
    return codebooks


def build_pq_lossless(
    embeddings: DataFrame, m: int = 4
) -> tuple[DataFrame, DataFrame]:
    """(codebooks, codes) for the LOSSLESS configuration in one O(N)
    pass: every subvector is its own codeword, so the assignment is
    known by construction — no argmin over the codebook (which would be
    O(N^2) per subspace). Ties between duplicate subvectors are
    irrelevant: either codeword carries the identical cv, so ADC scores
    are unchanged."""
    subs = _subvectors(_prepared(embeddings), "vec_id", m)
    w = Window.partitionBy("m").orderBy("vec_id")
    tagged = subs.withColumn("code", F.row_number().over(w))
    return (
        tagged.select("m", "code", F.col("sv").alias("cv")),
        tagged.select("vec_id", "m", "code"),
    )


def pq_encode(embeddings: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, m, code) — the compressed representation (m small ints
    per vector; this table IS the PQ 'index' and is what a deployment
    persists instead of raw vectors)."""
    row = codebooks.select(F.max("m")).first()
    m = 1 if row is None or row[0] is None else row[0] + 1
    subs = _subvectors(_prepared(embeddings), "vec_id", m)
    return _pq_assign(subs, codebooks, "vec_id")


def _ordered_fold(col_struct_array, field: str):
    """Sum struct-array entries in subspace order — float addition order
    is pinned so the lossless path reproduces the oracle's left-assoc
    chain bit-for-bit."""
    return F.aggregate(
        col_struct_array,
        F.lit(0.0),
        lambda acc, s: acc + s.getField(field),
    )


def pq_search(
    queries: DataFrame, codes: DataFrame, codebooks: DataFrame, k: int = 10
) -> DataFrame:
    """Asymmetric-distance cosine top-k: per query, distance tables
    against the (broadcast) codebooks, then ONE hash join onto the code
    table + a grouped ordered fold — no raw corpus vectors are touched
    at search time (the PQ property). Returns (q_id, vec_id,
    cos_pq_r6, rank)."""
    row = codebooks.select(F.max("m")).first()
    mcount = 1 if row is None or row[0] is None else row[0] + 1
    q = _prepared(queries)
    qsubs = _subvectors(q, "q_id", mcount)
    # per-(query, subspace, codeword) partial dot + codeword sub-norm
    dt = qsubs.join(F.broadcast(codebooks), "m").select(
        "q_id",
        "m",
        "code",
        V.dot(F.col("sv"), F.col("cv")).alias("pdot"),
        V.dot(F.col("cv"), F.col("cv")).alias("pn2"),
    )
    qn2 = (
        qsubs.select(
            "q_id", "m", V.dot(F.col("sv"), F.col("sv")).alias("pq2")
        )
        .groupBy("q_id")
        .agg(F.array_sort(F.collect_list(F.struct("m", "pq2"))).alias("a"))
        .select("q_id", _ordered_fold(F.col("a"), "pq2").alias("qn2"))
    )
    scored = (
        codes.join(dt, ["m", "code"])
        .groupBy("q_id", "vec_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("m", "pdot"))).alias("ad"),
            F.array_sort(F.collect_list(F.struct("m", "pn2"))).alias("an"),
        )
        .select(
            "q_id",
            "vec_id",
            _ordered_fold(F.col("ad"), "pdot").alias("qdot"),
            _ordered_fold(F.col("an"), "pn2").alias("xn2"),
        )
        .join(F.broadcast(qn2), "q_id")
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                F.col("qdot") / (F.sqrt(F.col("qn2")) * F.sqrt(F.col("xn2"))), 6
            ).alias("cos_pq_r6"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_pq_r6"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w).cast("bigint")).where(
        F.col("rank") <= k
    )


def knn_classify(embeddings: DataFrame, k: int = 5, query_mod: int = 50) -> DataFrame:
    """k-NN majority-vote label prediction with held-out queries — the
    eval loop of an embedding model, as one DataFrame plan.

    Queries are the deterministic subset vec_id % ``query_mod`` == 0;
    each is scored against the full corpus (brute-force tier — swap in
    the IVF/LSH candidate generators above for the 100 TB path; the
    voting logic is identical), its top-``k`` neighbors vote, ties
    break to the smaller label. Emits per query: predicted label, true
    label, vote count of the winner, and correctness — aggregating
    `correct` gives eval accuracy.
    """
    queries = embeddings.where(F.col("vec_id") % query_mod == 0)
    topk = cosine_topk(embeddings, queries, k=k)
    labels = embeddings.select(
        "vec_id", F.col("label").cast("long").alias("nbr_label")
    )
    votes = (
        topk.join(labels, "vec_id")
        .groupBy("q_id", "nbr_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("votes"), F.asc("nbr_label")
    )
    pred = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("q_id", F.col("nbr_label").alias("pred_label"), "votes")
    )
    truth = embeddings.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").cast("long").alias("true_label"),
    )
    return pred.join(truth, "q_id").select(
        "q_id",
        "pred_label",
        "true_label",
        "votes",
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def label_centroid_cosine(embeddings: DataFrame) -> DataFrame:
    """Cluster-cohesion metric per label: average cosine of each member
    to its label CENTROID — the embedding-quality check run before
    using labels for sampling/dedup decisions.

    Hashable-exact construction: vectors quantize to e6 integers
    (per-row, deterministic); centroid element sums are exact BIGINTs
    via posexplode + groupBy (cosine is scale-invariant, so the
    centroid's SUM vector substitutes for its mean — no division, no
    floats in the aggregate); each member's cosine is then one per-row
    IEEE expression over exact ints, floored to e6 units. The average
    uses the shifted-numerator trick ((sum + n*1e6) div n - 1e6) so the
    integer division never sees a negative numerator (where Spark div
    and DuckDB // disagree).

    Scale: centroids are label-cardinality-sized (tiny, broadcast); the
    member pass is one map-side join — no shuffle of the corpus beyond
    the centroid aggregate.
    """
    q = embeddings.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    )
    elems = q.select("label", F.posexplode("q").alias("i", "v"))
    cent = (
        elems.groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s))), p -> p.s)"
            ).alias("c")
        )
    )
    scored = q.join(F.broadcast(cent), "label").select(
        "label",
        F.expr(
            "CAST(floor(1000000.0 * CAST(aggregate(zip_with(q, c, (a, b) -> a * b), "
            "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / "
            "(sqrt(CAST(aggregate(transform(q, x -> x * x), CAST(0 AS BIGINT), "
            "(acc, v) -> acc + v) AS DOUBLE)) * "
            "sqrt(CAST(aggregate(transform(c, x -> x * x), CAST(0 AS BIGINT), "
            "(acc, v) -> acc + v) AS DOUBLE)))) AS BIGINT)"
        ).alias("cos_e6"),
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.col("cos_e6") + 1_000_000).cast("long")
            - F.lit(0)
        ).alias("_shifted"),
        F.min("cos_e6").alias("min_cos_e6"),
    ).select(
        "label",
        "n",
        (F.expr("_shifted div n") - 1_000_000).alias("avg_cos_e6"),
        "min_cos_e6",
    )


def embedding_drift(embeddings: DataFrame) -> DataFrame:
    """Embedding-space drift check: per label, the cosine between the
    centroid of one half of the data and the centroid of the other
    (deterministic vec_id parity halves) — run between two model
    versions or crawl snapshots, a drop below ~1.0 flags representation
    shift for that class.

    Same exactness construction as ``label_centroid_cosine``: e6
    integer quantization, exact BIGINT centroid SUMS per (label, half)
    (cosine's scale-invariance makes means unnecessary), one per-row
    IEEE cosine over exact ints at the very end, floored to e6.
    """
    q = embeddings.select(
        (F.col("vec_id") % 2).alias("half"),
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    )
    sums = (
        q.select("label", "half", F.posexplode("q").alias("i", "v"))
        .groupBy("label", "half", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("label", "half")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s))), p -> p.s)"
            ).alias("c"),
            F.count(F.lit(1)).alias("_dims"),
        )
    )
    a = sums.where(F.col("half") == 0).select(
        "label", F.col("c").alias("ca")
    )
    b = sums.where(F.col("half") == 1).select(
        "label", F.col("c").alias("cb")
    )
    counts = q.groupBy("label").agg(
        F.sum((F.col("half") == 0).cast("long")).cast("long").alias("n_a"),
        F.sum((F.col("half") == 1).cast("long")).cast("long").alias("n_b"),
    )
    return (
        a.join(b, "label")
        .join(counts, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.expr(
                "CAST(floor(1000000.0 * CAST(aggregate(zip_with(ca, cb, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE) / "
                "(sqrt(CAST(aggregate(transform(ca, x -> x * x), CAST(0 AS BIGINT), "
                "(acc, v) -> acc + v) AS DOUBLE)) * "
                "sqrt(CAST(aggregate(transform(cb, x -> x * x), CAST(0 AS BIGINT), "
                "(acc, v) -> acc + v) AS DOUBLE)))) AS BIGINT)"
            ).alias("centroid_cos_e6"),
        )
    )


def arrow_vector_stats(embeddings: DataFrame) -> DataFrame:
    """Per-vector integer stats computed through ``mapInArrow`` — the
    zero-copy tier of the Python execution surface: batches arrive as
    pyarrow RecordBatches (no pandas materialization at all, unlike
    mapInPandas), are processed with vectorized pyarrow/numpy kernels,
    and leave as RecordBatches. The right tool when the per-batch work
    is itself columnar (here: e6 quantization + L1/L-inf norms over the
    fixed-size list column).

    Output is integer-exact (same e6 rounding as the centroid ops), so
    the oracle replays it; numpy's rint is IEEE round-half-even —
    mirrored with DuckDB's round_even.
    """
    import pyarrow as pa

    def batches(it):
        import numpy as np

        for batch in it:
            tbl = pa.Table.from_batches([batch])
            vec_ids = tbl["vec_id"].to_numpy()
            embs = tbl["embedding"].to_pylist()
            if len(embs) == 0:  # empty Arrow batch: nothing to emit
                continue
            mat = np.asarray(embs, dtype=np.float64)
            q = np.rint(mat * 1_000_000).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(vec_ids, pa.int64()),
                    "dims": pa.array([mat.shape[1]] * len(vec_ids), pa.int64()),
                    "l1_e6": pa.array(np.abs(q).sum(axis=1), pa.int64()),
                    "linf_e6": pa.array(np.abs(q).max(axis=1), pa.int64()),
                }
            )

    return (
        embeddings.select("vec_id", "embedding")
        # NULL payloads drop JVM-side before the Arrow hop — a missing
        # vector has no stats, and np.asarray on a ragged None-bearing
        # batch would poison the whole batch
        .where(F.col("embedding").isNotNull())
        .mapInArrow(
            batches, "vec_id bigint, dims bigint, l1_e6 bigint, linf_e6 bigint"
        )
    )


def blocked_mutual_knn(
    embeddings: DataFrame, k: int = 5, bucket_bits: int | None = None
) -> DataFrame:
    """The SCALE path for the mutual-kNN graph: the exact
    ``mutual_knn_pairs`` above is O(n²) by contract (documented as the
    per-block primitive) — this runs that primitive INSIDE sign-pattern
    LSH blocks, so pair scoring is sum over buckets of |bucket|²
    instead of n². Same mutuality canonicalization; candidate loss is
    quantified by ``blocked_knn_recall`` below rather than hidden.

    Scoring runs through the exact-duplicate-collapsed scorer
    (``_collapsed_knn_edges``) — on a duplicate-saturated corpus the
    naive within-bucket form multiplies both the pair scoring and the
    top-k shuffle by the squared copy count (the r9 100x soak spilled
    multi-GB sorts on it); the collapsed form is output-identical and
    linear in members + unique-pair work."""
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(embeddings)
    edges = _collapsed_knn_edges(
        embeddings, k, bucket_bits=bucket_bits
    )
    canon = edges.select(
        F.least("src", "dst").alias("v1"),
        F.greatest("src", "dst").alias("v2"),
        "cos_sim",
    )
    return (
        canon.groupBy("v1", "v2")
        .agg(F.count(F.lit(1)).alias("__n"), F.max("cos_sim").alias("cos_sim"))
        .where(F.col("__n") == 2)
        .drop("__n")
    )


def _recall_sample(
    embeddings: DataFrame, sample_cap: int | None
) -> DataFrame:
    """Deterministic absolute-size sample for the quadratic recall
    baselines: the ``sample_cap`` vectors with the LOWEST
    xxhash64(vec_id) (ties broken by vec_id).

    Scale shape: the pick is a distributed top-k over (hash, id) —
    TakeOrderedAndProject, O(cap) memory per task, never a global sort —
    and the selected id set (<= cap rows) broadcasts back as a semijoin.
    Hash order makes the sample independent of id assignment, so the
    recall readout is unbiased even when vec_ids correlate with ingest
    source or time; determinism (vs ``.sample()``) keeps the readout
    reproducible across retries and engines."""
    if sample_cap is None:
        return embeddings
    picked = (
        embeddings.select("vec_id")
        .orderBy(F.xxhash64("vec_id").asc(), F.col("vec_id").asc())
        .limit(sample_cap)
    )
    return embeddings.join(F.broadcast(picked), "vec_id")


def blocked_knn_recall(
    embeddings: DataFrame,
    k: int = 5,
    bucket_bits: int | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """One-row quality readout for the blocked graph: exact-pair count,
    blocked-pair count, their intersection, and recall in basis points
    — entirely deterministic, so the oracle reproduces the number
    rather than trusting a bound.

    ``sample_cap``: the exact baseline is quadratic in UNIQUE vectors by
    definition — a rate-based subsample (vec_id % p == 0, what the
    contract query uses for oracle determinism) still grows linearly
    with the corpus, so its baseline cost grows quadratically. At 100 TB
    pass an ABSOLUTE cap instead, which bounds the baseline at O(cap^2)
    REGARDLESS of corpus size (SOAK_r9.md contract note). The sample is
    the ``sample_cap`` lowest vectors by xxhash64(vec_id) — see
    ``_recall_sample`` — so it is deterministic AND unbiased by id
    ordering (a plain ``vec_id < cap`` prefix would skew the readout
    whenever ids correlate with ingest source or time). Both the exact
    and blocked sides are capped identically — recall is only meaningful
    when both graphs are built over the same vector set."""
    embeddings = _recall_sample(embeddings, sample_cap)
    # bits derive from the SAMPLED corpus: both graphs are built on the
    # sample, so the sample's own width is the only operating point the
    # readout can grade meaningfully (full-corpus width over a small
    # sample would shatter it into singleton buckets and report ~0),
    # and it keeps the semantics pin that sample_cap=C is bit-identical
    # to hand-filtering the input to the same C ids. To grade a SPECIFIC
    # production width, pass bucket_bits explicitly (what the soak
    # harness does for apples-to-apples cells).
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(embeddings)
    # Each pair set feeds BOTH a count and a join — persist so the
    # expensive scoring pipelines run once, not once per action. The
    # persisted sets are pair lists at sample scale (n·k rows, and the
    # exact side is cappable via sample_cap), so memory is bounded by
    # the sample, never the corpus.
    exact = mutual_knn_pairs(embeddings, k=k).select("v1", "v2").persist()
    blocked = (
        blocked_mutual_knn(embeddings, k=k, bucket_bits=bucket_bits)
        .select("v1", "v2")
        .persist()
    )
    try:
        # The three readout counts are independent jobs over the two
        # persisted pair sets — overlapped so the later jobs back-fill
        # the cluster while the first one's stragglers finish (guide
        # §2.6); the persisted frames make the shared pipelines compute
        # once whichever job touches them first.
        common, n_exact, n_blocked = _overlap_jobs(
            lambda: exact.join(blocked, ["v1", "v2"]).count(),
            exact.count,
            blocked.count,
        )
    finally:
        exact.unpersist()
        blocked.unpersist()
    return embeddings.sparkSession.createDataFrame(
        [(n_exact, n_blocked, common, (10000 * common) // max(n_exact, 1))],
        "n_exact bigint, n_blocked bigint, n_common bigint, recall_bp bigint",
    )


def blocked_mutual_knn_multiprobe(
    embeddings: DataFrame, k: int = 5, bucket_bits: int | None = None
) -> DataFrame:
    """MULTI-PROBE blocked mutual-kNN: single-probe sign-LSH loses
    exactly the pairs that straddle one hyperplane boundary (a vector
    whose coordinate j is near zero lands on either side of bit j by
    noise). Each vector therefore probes its HOME bucket plus the
    ``bucket_bits`` buckets at Hamming distance 1 (one sign bit
    flipped) — the standard multi-probe LSH move (Lv et al., VLDB'07)
    — recovering boundary pairs at a bounded (1 + bits)x candidate
    cost instead of doubling the table count.

    The probe relation is SYMMETRIC (Hamming distance is), so the
    candidate set, and hence the mutual-kNN graph, is well-defined
    without a second pass: dst's home bucket is within one flip of
    src's home iff the reverse holds. Scale shape is unchanged — an
    equi-join on probe-bucket = home-bucket, sum over buckets of
    (1 + bits)·|bucket|² work, never n².

    ``blocked_knn_multiprobe_recall`` quantifies the gain: recall_bp
    strictly above single-probe on the same data (oracle-reproduced,
    not asserted on faith).

    Scoring runs through the exact-duplicate-collapsed scorer
    (``_collapsed_knn_edges`` with multiprobe=True) — candidate
    generation and the probe relation are unchanged (a vector's home
    bucket matches exactly one probe string, so each pair scores once,
    same as the naive join), only the per-copy duplication of the work
    is gone. Output-identical including ranks."""
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(embeddings)
    edges = _collapsed_knn_edges(
        embeddings, k, bucket_bits=bucket_bits, multiprobe=True
    )
    canon = edges.select(
        F.least("src", "dst").alias("v1"),
        F.greatest("src", "dst").alias("v2"),
        "cos_sim",
    )
    return (
        canon.groupBy("v1", "v2")
        .agg(F.count(F.lit(1)).alias("__n"), F.max("cos_sim").alias("cos_sim"))
        .where(F.col("__n") == 2)
        .drop("__n")
    )


def blocked_knn_multiprobe_recall(
    embeddings: DataFrame,
    k: int = 5,
    bucket_bits: int | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """One-row readout comparing single-probe and multi-probe blocked
    graphs against the exact mutual-kNN graph — all three deterministic,
    so the oracle reproduces every number. The interesting columns:
    multi_recall_bp vs single_recall_bp (the multi-probe gain) and
    multi_superset (multi-probe candidates contain all single-probe
    candidates, so its graph can only add pairs).

    ``sample_cap``: absolute bound on the quadratic exact baseline for
    100 TB deployments — hash-ordered top-k sample, see
    ``_recall_sample`` / ``blocked_knn_recall``; applied identically
    to all three graphs so recall stays an apples-to-apples readout."""
    embeddings = _recall_sample(embeddings, sample_cap)
    # The exact graph feeds three actions (its count + two probe
    # joins); persist so the quadratic baseline pipeline runs ONCE.
    # Sample-scale pair list — bounded memory (see blocked_knn_recall).
    exact = mutual_knn_pairs(embeddings, k=k).select("v1", "v2").persist()
    # One width for both blocked graphs, measured once (one count job).
    if bucket_bits is None:
        bucket_bits = auto_bucket_bits(embeddings)
    single = blocked_mutual_knn(embeddings, k=k, bucket_bits=bucket_bits).select(
        "v1", "v2"
    )
    multi = blocked_mutual_knn_multiprobe(
        embeddings, k=k, bucket_bits=bucket_bits
    ).select("v1", "v2")
    try:
        # Independent readout jobs over the persisted exact set —
        # overlapped (guide §2.6, same shape as blocked_knn_recall).
        n_exact, s_common, m_common = _overlap_jobs(
            exact.count,
            lambda: exact.join(single, ["v1", "v2"]).count(),
            lambda: exact.join(multi, ["v1", "v2"]).count(),
        )
    finally:
        exact.unpersist()
    return embeddings.sparkSession.createDataFrame(
        [
            (
                n_exact,
                (10000 * s_common) // max(n_exact, 1),
                (10000 * m_common) // max(n_exact, 1),
            )
        ],
        "n_exact bigint, single_recall_bp bigint, multi_recall_bp bigint",
    )


def embedding_covariance(embeddings: DataFrame) -> DataFrame:
    """Distributed d x d covariance matrix of the embedding space — the
    feature-drift / whitening primitive (its diagonal is per-dimension
    variance; off-diagonal structure reveals collapsed or duplicated
    dimensions before they poison similarity search).

    The design matrix never leaves the executors: each row expands to
    its upper-triangle outer-product cells d(d+1)/2 at a time through
    ONE codegen expression (nested ``transform`` over index sequences —
    no UDF, no join), and a groupBy (i, j) reduces them with map-side
    partial aggregation, so the shuffle carries at most d(d+1)/2 rows
    PER TASK regardless of corpus size. Components quantize to e3
    integers first, making every moment sum an exact BIGINT (headroom:
    |q| <= ~1e3 for unit-scale embeddings, so Sxy survives ~1e9 rows;
    switch the sums to DECIMAL(38,0) beyond, same plan).

    Emits per cell (i <= j): n, Sx, Sy, Sxy and the centered numerator
    cov_num = n*Sxy - Sx*Sy (the exact integer n^2-scaled covariance);
    callers divide by n^2 when they want the float.
    """
    # the multiply must promote to DOUBLE before round: float32 * int
    # rounds on single-precision boundaries and disagrees with any
    # engine that promotes (invisible on small samples, real at scale)
    #
    # spread() (r15): the d(d+1)/2-cell expansion + map-side partial
    # aggregate run INSIDE the scan task — a single-row-group source
    # (the sf testdata shape) serialized the whole n x d(d+1)/2 outer-
    # product on one core. No-op on already-parallel inputs.
    q = spread(embeddings).select(
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("q")
    )
    cells = q.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(q) - 1), i -> "
                "transform(sequence(i, size(q) - 1), j -> "
                "struct(CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, "
                "q[i] AS x, q[j] AS y, q[i] * q[j] AS xy))))"
            )
        ).alias("c")
    ).select("c.*")
    g = cells.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
    )
    return g.select(
        "i",
        "j",
        "n",
        "sx",
        "sy",
        "sxy",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "cov_num"
        ),
    )


ARROW_LABEL_SCHEMA = (
    "label bigint, n_vecs bigint, dim0_sum_e6 bigint, "
    "min_vec_id bigint, max_vec_id bigint"
)


def arrow_label_stats(embeddings: DataFrame) -> DataFrame:
    """Per-label embedding stats through grouped ``applyInArrow`` — the
    zero-copy Arrow-native tier (one step below applyInPandas: no
    pandas conversion at all; the callable sees pyarrow Tables and
    computes with pyarrow.compute kernels). The right tier when group
    logic is expressible in Arrow kernels and the pandas materialization
    would be pure overhead.

    Components quantize to e6 JVM-side; the per-group kernel work is
    sum/min/max — all in Arrow's native C++ kernels. Oracle mirrors
    relationally."""
    import pyarrow as pa
    import pyarrow.compute as pc

    q = embeddings.select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        F.expr(
            "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE) * 1000000) AS BIGINT)"
        ).alias("d0_e6"),
    )

    # NOTE: applyInArrow resolves the eval type FROM these annotations
    # (tuple-of-Tables signature => grouped-map-with-key); they must be
    # real types, not strings, or pyspark's hint inspection falls over.
    def stats(key: tuple, tbl: pa.Table) -> pa.Table:
        return pa.table(
            {
                "label": pa.array([key[0].as_py()], pa.int64()),
                "n_vecs": pa.array([tbl.num_rows], pa.int64()),
                "dim0_sum_e6": pa.array(
                    [pc.sum(tbl.column("d0_e6")).as_py()], pa.int64()
                ),
                "min_vec_id": pa.array(
                    [pc.min(tbl.column("vec_id")).as_py()], pa.int64()
                ),
                "max_vec_id": pa.array(
                    [pc.max(tbl.column("vec_id")).as_py()], pa.int64()
                ),
            }
        )

    return q.groupBy("label").applyInArrow(stats, schema=ARROW_LABEL_SCHEMA)


def label_silhouette(embeddings: DataFrame) -> DataFrame:
    """Silhouette-style label separation: per label, the mean cosine
    of members to their OWN centroid vs to the BEST OTHER centroid —
    label_centroid_cosine measures cohesion alone; separation is what
    says whether labels are actually distinguishable in embedding
    space (own >> other = clean classes; own ~ other = label noise).

    Same exactness construction as the centroid family: e6 integer
    quantization (promoted to DOUBLE first — the float32 rule), exact
    BIGINT centroid SUMS (cosine's scale-invariance makes means
    unnecessary), every member-centroid cosine one per-row IEEE
    expression over exact ints floored to e6, and the per-label means
    use the shifted-numerator trick so truncating division never sees
    a negative numerator.

    Scale: centroids are label-cardinality-sized and broadcast; each
    member scores against ALL centroids via one small cross join
    (members x |labels| — enum-bounded multiplication), then one
    label-grain rollup.
    """
    q = embeddings.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    )
    elems = q.select("label", F.posexplode("q").alias("i", "v"))
    cent = (
        elems.groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s))), "
                "p -> p.s)"
            ).alias("c")
        )
        .select(F.col("label").alias("clabel"), "c")
    )
    cos = F.expr(
        "floor(1000000.0 * "
        "aggregate(zip_with(q, c, (x, y) -> x * y), CAST(0 AS BIGINT), "
        "(a, x) -> a + x) / "
        "(sqrt(CAST(aggregate(transform(q, x -> x * x), "
        "CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE)) * "
        "sqrt(CAST(aggregate(transform(c, x -> x * x), "
        "CAST(0 AS BIGINT), (a, x) -> a + x) AS DOUBLE))))"
    ).cast("long")
    scored = q.join(F.broadcast(cent), how="cross").select(
        "vec_id", "label", "clabel", cos.alias("cos_e6")
    )
    own = scored.where(F.col("label") == F.col("clabel")).select(
        "vec_id", "label", F.col("cos_e6").alias("own_e6")
    )
    other = (
        scored.where(F.col("label") != F.col("clabel"))
        .groupBy("vec_id", "label")
        .agg(F.max("cos_e6").alias("other_e6"))
    )
    per = own.join(other, ["vec_id", "label"])
    shift = 2_000_000  # cosines in [-1e6, 1e6]; shift keeps sums positive
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.expr(
            f"(sum(own_e6 + {shift}) div count(1)) - {shift}"
        ).alias("mean_own_e6"),
        F.expr(
            f"(sum(other_e6 + {shift}) div count(1)) - {shift}"
        ).alias("mean_other_e6"),
    ).withColumn(
        "separation_e6", F.col("mean_own_e6") - F.col("mean_other_e6")
    )


def centroid_matrix(embeddings: DataFrame) -> DataFrame:
    """Full label-centroid cosine matrix — the confusion STRUCTURE
    label_silhouette's scalar summarizes: which label pairs sit close
    in embedding space (the pairs a classifier will mix up, and the
    merge candidates in taxonomy cleanup). Upper triangle only
    (cosine is symmetric), |labels|^2/2 rows — enum-bounded output.

    Same exact construction as the centroid family: e6-quantized
    components (float32 promoted first), exact BIGINT centroid sums,
    one IEEE cosine per pair floored to e6.
    """
    q = embeddings.select(
        F.col("label").cast("long").alias("label"),
        F.expr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("q"),
    )
    elems = q.select("label", F.posexplode("q").alias("i", "v"))
    cent = (
        elems.groupBy("label", "i")
        .agg(F.sum("v").alias("s"))
        .groupBy("label")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, s))), "
                "p -> p.s)"
            ).alias("c")
        )
    )
    a = cent.select(F.col("label").alias("la"), F.col("c").alias("ca"))
    b = cent.select(F.col("label").alias("lb"), F.col("c").alias("cb"))
    cos = F.expr(
        "floor(1000000.0 * "
        "aggregate(zip_with(ca, cb, (x, y) -> x * y), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x) / "
        "(sqrt(CAST(aggregate(transform(ca, x -> x * x), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)) * "
        "sqrt(CAST(aggregate(transform(cb, x -> x * x), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE))))"
    ).cast("long")
    return (
        a.crossJoin(b)
        .where(F.col("la") < F.col("lb"))
        .select("la", "lb", cos.alias("cos_e6"))
    )
