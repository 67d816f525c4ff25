"""Directed scale-soak for the ANN recall family (VERDICT r12 item 7):
`blocked_mutual_knn`, `blocked_mutual_knn_multiprobe`, the two recall
readouts, and the PQ train/encode/search pipeline, pushed through a
NEAR-identical whale-vector corpus (`tools/make_whale_vectors.py`) the
way the dedup family was soaked in r10-r12.

Corpus cells: hot = tail + a fixed 5k near-identical whale (every
member lands in ONE sign bucket, arrays pairwise distinct so no
byte-identity collapse fires — within-whale exact work is C(5k,2) =
12.5M scored pairs by contract); flat = same total rows, no whale.
Sizes chosen to be byte-comparable to the 8-16M thin-event dedup
soaks (a 64-dim float32 vector row ~ 8 event rows): 500k and 1M
vectors = ~4M / 8M event-equivalents of payload, doubled for the
growth ratio.

bucket_bits: the soak runs the blocked ops at 16 bits (65k buckets),
the operator's documented scale lever — the contract default of 4 is
sized for the sf0.1 testdata (10k vectors) and would make ANY engine
quadratic at 1M rows (within-block exact is the contract). A first
pass at 12 bits measured blocked_knn 500k_flat at 123.6 s/rep —
candidate pair rows carry both vectors, so the shuffle is
pair-count-bound and 12 bits under-partitions a 500k corpus; 16 bits
is what a deployment at this density would choose.

The multiprobe cells run only up to 500k (logged, not silent): the
(1 + bits) x candidate multiplier makes 1M multiprobe a
multi-hundred-second cell at ANY correct implementation of the
contract, and the hot/flat + growth ratios are fully determined by
the 250k/500k pair.

Usage::

    python tools/soak_ann_recall.py [sizes_k ...]   # default 500 1000
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

BITS = 16
WHALE_N = 5000


def corpus(spark, out_root: str, total: int, whale_n: int):
    out = os.path.join(out_root, f"vec_{total}_{whale_n}")
    if not os.path.exists(os.path.join(out, "embeddings.parquet")):
        os.makedirs(out, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "make_whale_vectors.py"),
             out, str(whale_n), str(total - whale_n)],
            check=True,
        )
    # spread BEFORE the caller caches: a cached frame hides its files
    # from spread's row-group probe (inputFiles() == [] through
    # InMemoryRelation), so layout normalization must happen here
    from data_lake_for_citi_bike_trip_spark.session import spread

    return spread(spark.read.parquet(os.path.join(out, "embeddings.parquet")))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from data_lake_for_citi_bike_trip_spark import caching
    from data_lake_for_citi_bike_trip_spark.operators import similarity

    sizes = [int(a) * 1000 for a in sys.argv[1:]] or [500_000, 1_000_000]
    out_root = "/tmp/soak_ann_r13"
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # throwaway warm-up: the box charges a large first-heavy-query
    # cost per session (BENCH_NOTES r12) that min-of-reps cannot wash
    # out when all reps of cell 1 run before cell 2
    warm = corpus(spark, out_root, 5_000, 0)
    similarity.blocked_mutual_knn(warm, k=5, bucket_bits=BITS).agg(
        F.count(F.lit(1))
    ).collect()

    def t(fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        return round(best, 2)

    for total in sizes:
        for shape in ("flat", "hot"):
            whale = WHALE_N if shape == "hot" else 0
            emb = corpus(spark, out_root, total, whale).cache()
            emb.count()

            def blocked():
                similarity.blocked_mutual_knn(
                    emb, k=5, bucket_bits=BITS
                ).agg(F.count(F.lit(1)), F.max("cos_sim")).collect()

            def multiprobe():
                similarity.blocked_mutual_knn_multiprobe(
                    emb, k=5, bucket_bits=BITS
                ).agg(F.count(F.lit(1)), F.max("cos_sim")).collect()

            def recall_single():
                similarity.blocked_knn_recall(
                    emb, k=5, bucket_bits=BITS, sample_cap=2000
                ).collect()

            def recall_multi():
                similarity.blocked_knn_multiprobe_recall(
                    emb, k=5, bucket_bits=BITS, sample_cap=2000
                ).collect()

            def pq_pipeline():
                # cache cb/codes: the PQ property IS that a deployment
                # persists the index — uncached, every downstream
                # action (including pq_search's .first() for m)
                # re-runs the whole Lloyd train, and a first soak pass
                # measured that recompute blowing the 500k cell past
                # 20 minutes
                cb = similarity.build_pq_codebooks(
                    emb, m=4, k=32, iters=2
                ).cache()
                codes = similarity.pq_encode(emb, cb).cache()
                try:
                    similarity.pq_search(
                        emb.where(F.col("vec_id") < 10), codes, cb, k=10
                    ).agg(F.count(F.lit(1)), F.max("rank")).collect()
                finally:
                    cb.unpersist()
                    codes.unpersist()

            cells = {
                "blocked_knn": blocked,
                "multiprobe_knn": multiprobe,
                "recall_single": recall_single,
                "recall_multi": recall_multi,
                "pq_train_encode_search": pq_pipeline,
            }
            if total > 500_000:
                cells.pop("multiprobe_knn")
                print(json.dumps(
                    {"corpus": f"{total // 1000}k_{shape}",
                     "cell": "multiprobe_knn",
                     "skipped": "(1+bits)x candidate multiplier: "
                                "multi-hundred-second cell above 500k; "
                                "ratios determined by smaller sizes"}
                ), flush=True)
                cells.pop("pq_train_encode_search")
                print(json.dumps(
                    {"corpus": f"{total // 1000}k_{shape}",
                     "cell": "pq_train_encode_search",
                     "skipped": "super-linear 250k->500k (33.6 -> "
                                "444.8 s) under investigation — "
                                "SOAK_r13 §4b"}
                ), flush=True)
            for name, fn in cells.items():
                caching.release_caches()
                print(
                    json.dumps(
                        {"corpus": f"{total // 1000}k_{shape}",
                         "whale": whale, "cell": name, "sec": t(fn)}
                    ),
                    flush=True,
                )
            emb.unpersist()
            caching.release_caches()
    shutil.rmtree(out_root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
