"""Scale soak: time contract queries at two scales, report growth.

Runs each named query (default: the structurally heaviest families)
once warm at the base sf dir and once at the synthesized k-times dir,
and prints rows + seconds + the time ratio. A bounded operator should
grow ~linearly in input rows (ratio ≲ k, modulo log factors and fixed
overhead); a ratio far above k exposes a quadratic/global-state cliff
that the small-sf correctness sweeps can never see.

Usage::

    python tools/synth_scale.py /tmp/sf1_synth 10
    python tools/scale_soak.py /root/testdata/sf0.1 /tmp/sf1_synth 10 [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: default soak set: every family with nontrivial join/window/UDF structure
DEFAULT = [
    # dedup / similarity candidate generation
    "dedup_minhash",
    "dedup_simhash_docs",
    "jaccard_prefix",
    "dedup_embedding",
    "semantic_dedup",
    "dedup_exact",
    # ANN index paths
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_lsh_topk",
    "knn_blocked_recall",
    # decision walks / sessionization
    "debounce_events",
    "capped_running_sum",
    "user_gap_median",
    "sessionize",
    "peak_concurrency",
    # global-order rewrites (two-pass boundedness)
    "pareto_8020",
    "abc_classification",
    "feature_deciles",
    "funnel_time_quartiles",
    # graph iterations
    "graph_pagerank",
    "label_propagation",
    # heavy joins / market baskets
    "also_bought",
    "frequent_triples",
    "record_linkage",
    # text pipelines
    "doc_keywords",
    "bigram_surprisal",
    "text_token_stats",
]


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    base_dir, big_dir = sys.argv[1], sys.argv[2]
    k = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    names = sys.argv[4:] or DEFAULT

    import __spark_entry__ as entry
    from data_lake_for_citi_bike_trip_spark.session import get_session

    spark = get_session()
    qs = entry.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    def run(name: str, sf: str) -> tuple[int, float]:
        t0 = time.time()
        n = qs[name](spark, sf).count()
        return n, time.time() - t0

    # warm the session on something cheap
    qs[names[0]](spark, base_dir).count()

    results = []
    suspicious = []
    for name in names:
        n1, t1 = run(name, base_dir)
        n2, t2 = run(name, big_dir)
        ratio = t2 / max(t1, 0.05)
        # Cost should be O(input + output): pair-emitting operators
        # (dedup joins) have output quadratic in duplicate-cluster size
        # BY SEMANTICS, so judge time against whichever grew more —
        # input (k) or output. 2.5x headroom for fixed overhead and log
        # factors.
        out_growth = n2 / max(n1, 1)
        flag = ratio > 2.5 * max(k, out_growth)
        results.append(
            {
                "query": name,
                "rows_base": n1,
                "rows_big": n2,
                "sec_base": round(t1, 2),
                "sec_big": round(t2, 2),
                "time_ratio": round(ratio, 2),
                "flag": flag,
            }
        )
        if flag:
            suspicious.append(name)
        print(
            f"{'SUSPICIOUS' if flag else 'ok':>10} {name}: "
            f"{t1:.2f}s -> {t2:.2f}s ({ratio:.1f}x time for {k:.0f}x rows; "
            f"{n1} -> {n2} out-rows)",
            flush=True,
        )

    print(json.dumps({"k": k, "suspicious": suspicious, "results": results}))
    return 1 if suspicious else 0


if __name__ == "__main__":
    sys.exit(main())
