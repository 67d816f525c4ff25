"""Regenerate PLANS.md: physical-plan review of the headline queries.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE = [
    "fact_trips",
    "pricing_summary",
    "revenue_by_nation",
    "range_price_match",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "sessionize",
    "exists_big_spenders",
    "rollup_revenue",
    "bm25_topk",
    "pack_sequences",
    "window_funcs",
    "skew_salted_agg",
    "lake_roundtrip",
    "station_neighbors",
    "knn_mutual_pairs",
    "gap_fill_daily",
    "cohort_retention",
    "tpch_shipping_priority",
    "token_colocation",
    "key_skew_profile",
    "referential_orphans",
    "tpch_local_supplier_volume",
    "tpch_discounted_revenue",
    "contamination_check",
    "incident_exposure",
    "asof_nearest",
    "text_repetition",
    "tpch_min_cost_supplier",
    "tpch_waiting_suppliers",
    "dedup_incremental",
    "ann_ivf_topk",
    "multimodal_png_pixels",
    "tpch_product_profit",
    "lake_merge",
    "stream_txn_merge",
    "ann_pq_topk",
    "graph_pagerank",
    "orc_roundtrip",
    "hybrid_rrf",
    "graph_triangles",
    "hll_incremental_distinct",
    "variant_props_rollup",
    "pysource_agg",
    "bitmap_distinct",
    "pareto_frontier",
    "bpe_pairs",
    "tfidf_similar",
    "cusum_changepoints",
    "multimodal_wav_stats",
    "geo_hotspots",
    "udtf_sliding_chunks",
    "phrase_search",
    "corr_pairs",
    "window_distinct",
    "feature_iqr",
    "knn_classify",
    "ewma_daily",
    "replica_diff",
    "gdpr_erase",
    "kcore_peel",
    "mom_change",
    "label_centroids",
    "tokenizer_drift",
    "peak_concurrency",
    "near_dup_events",
    "topk_with_ties",
    "ab_lift",
    "dow_seasonality",
    "mixture_deficit",
    "group_split",
    "source_divergence",
    "embedding_drift",
    "arrow_vector_stats",
    "stream_multibatch_totals",
    "cube_distinct",
    "jaccard_prefix",
    "cep_recovery",
    "theil_sen",
    "benford_audit",
    "fd_violations",
    "debounce_events",
    "share_of_parent",
    "ivm_join",
    "knn_blocked_pairs",
    "knn_multiprobe_pairs",
    "cep_click_conversion",
    "last_touch",
    "scd2_point_in_time",
    "multimodal_video_frames",
    "txn_point_lookup",
    "txn_delete_vectors",
    "also_bought",
    "graph_bfs",
    "countmin_freq",
    "rolling_median",
    "purchase_streaks",
    "trimmed_mean",
    "fixed_width_roundtrip",
    "ols_two_factor",
    "autocorr_daily",
    "chisq_independence",
    "rank_sum_test",
    "hll_overlap",
    "winsorized_stats",
    "embedding_covariance",
    "rollup_cascade",
    "record_linkage",
    "capped_running_sum",
    "jsonl_roundtrip",
    "image_downsample",
    "assoc_rules",
    "forecast_backtest",
    "ivm_agg_delta",
    "recursive_hierarchy",
    "entropy_profile",
    "seasonal_residual_anomalies",
    "bigram_surprisal",
    "pysink_roundtrip",
    "ooo_audit",
    "nested_order_items",
    "k_anonymity",
    "cogroup_reconcile",
    "arrow_label_stats",
    "sql_ddl_roundtrip",
    "points_in_zones",
    "bitmap_overlap",
    "null_safe_join",
    "sssp_weighted",
    "interval_union",
    "rfm_scores",
    "json_corrupt_audit",
    "tz_local_daily",
    "uplift_by_segment",
    "funnel_time_quartiles",
    "try_arithmetic",
    "extract_numbers",
    "stream_bitmap_distinct",
    "sentence_stats",
    "crosscorr_daily",
    "burst_max",
    "business_lead_time",
    "ks_test",
    "gini_spend",
    "cramers_v",
    "psi_value_drift",
    "prorate_order_total",
    "position_attribution",
    "bootstrap_ci",
    "mann_kendall",
    "weighted_median",
    "mutual_information",
    "ltv_cohort",
    "bag_setops",
    "label_propagation",
    "frequent_triples",
    "zipf_slope",
    "target_encode_loo",
    "langid_kappa",
    "spearman_daily",
    "negative_samples",
    "quantile_normalize",
    "isotonic_fit",
    "edge_churn",
    "hits_scores",
    "label_silhouette",
    "median_of_means",
    "rapid_reorders",
    "basket_entropy",
    "hapax_rate",
    "mix_rate_decomposition",
    "gmroi",
    "lorenz_deciles",
    "hhi_by_nation",
    "stream_minmax",
    "srm_check",
    "order_reconciliation",
    "circadian_profile",
    "markov_entropy_rate",
    "runs_test",
    "dow_eta_squared",
    "neyman_allocation",
    "capture_recapture",
    "prop_ztest",
]

NOTES = {
    "mix_rate_decomposition": "one (half, priority) aggregate + a "
    "5-row self-join; the bridge reconciles exactly by construction",
    "gmroi": "(partkey, suppkey) join exchange-free on the bucketed "
    "partsupp side; two part-grain aggregates; bottom-k TakeOrdered",
    "lorenz_deciles": "customer-grain aggregate + one ranked window "
    "over the spend histogram + bounded 10x decile explode",
    "hhi_by_nation": "broadcast dims; one corpus aggregate; bp-share "
    "window over nation-bounded supplier groups",
    "stream_minmax": "monotone per-window min/max state, watermark "
    "evicted; complete drain equals the batch tumbling mirror",
    "srm_check": "one distinct + 2-cell aggregate; the flag is pure "
    "integer cross-multiplication",
    "order_reconciliation": "orderkey aggregate + keyed left join + "
    "5-band rollup; all BIGINT cents",
    "circadian_profile": "per-row e6 cos/sin quantization -> two "
    "exact integer sums; atan2/sqrt once per type",
    "markov_entropy_rate": "one user-partitioned lead window + "
    "enum^2-bounded cells; millibit terms, exact pi weighting",
    "runs_test": "calendar-bounded lag windows; exact run counts; "
    "one shared z expression",
    "dow_eta_squared": "daily + (type,dow) aggregates; between-terms "
    "floored to e6 before summing (float fold-order guard)",
    "neyman_allocation": "enum-bounded stratum aggregate; variance "
    "term in shared doubles (int64 overflow guard); Hamilton rounding",
    "capture_recapture": "two half-distinct flags per user, one "
    "4-number reduction; Chapman in exact integers",
    "prop_ztest": "user-grain aggregate + histogram median attach + "
    "2-cell rollup; z is one floored-e6 double",
    "isotonic_fit": "minimax identity: every (j,i) cell independent — "
    "calendar-cubed cells, corpus-sized work is one daily aggregate; "
    "range residuals ride on event_type equi-joins",
    "edge_churn": "two basket-bounded distinct edge sets, one "
    "full-outer reconciliation on the canonical key",
    "hits_scores": "two rounds x two keyed join+aggregate passes; "
    "unnormalized BIGINT scores, top-k via TakeOrderedAndProject",
    "label_silhouette": "centroids broadcast (label-enum-bounded "
    "cross join x10); per-member cosine pure codegen",
    "median_of_means": "one md5-bucket aggregate (k-row state), "
    "bounded rank window; the distributed-robust-mean shape",
    "rapid_reorders": "custkey equi-join + bounded date residual — "
    "per-customer-burst bounded, never quadratic in the fact",
    "basket_entropy": "order-keyed windows over <= 7-line groups; "
    "millibit terms sum as integers",
    "hapax_rate": "one explode, two keyed aggregates; ratios in bp",
    "prorate_order_total": "one orderkey equi-join + two windows over "
    "per-order groups (<= 7 lines); all-BIGINT Hamilton allocation",
    "position_attribution": "user-keyed join to the 1-per-user mark, "
    "one user-partitioned window, 7-key rollup; integer credit",
    "bootstrap_ci": "map-side x32 expand collapses into a 32-row "
    "aggregate; no row ever shuffles un-aggregated; ranks over B rows",
    "mann_kendall": "pairwise join keyed on event_type, quadratic only "
    "in the calendar-bounded per-type day count; exact S/var18",
    "weighted_median": "value-domain histogram + flag-partitioned "
    "cumulative window; bounded by distinct prices, not rows",
    "mutual_information": "one contingency aggregate; enum-bounded "
    "margins broadcast back (provably bounded sides); 35-cell rollup",
    "ltv_cohort": "one user-grain first-seen join (the only corpus "
    "shuffle); (cohort, age) aggregate + calendar-bounded window",
    "bag_setops": "Spark plans intersectAll/exceptAll as per-key "
    "count-and-replicate aggregates — one keyed shuffle each",
    "label_propagation": "3 rounds of edge-keyed join + min aggregate "
    "with localCheckpoint lineage truncation (the Pregel shape)",
    "frequent_triples": "bounded C(basket,3) enumeration (narrow "
    "baskets) + downward-closure semi-joins; top-k via "
    "TakeOrderedAndProject",
    "zipf_slope": "term counts map-side combine; top-256 via "
    "TakeOrderedAndProject; OLS over a constant-bounded frame",
    "target_encode_loo": "enum-bounded category stats broadcast back "
    "onto the scan; no window, no fact shuffle",
    "langid_kappa": "enum-bounded margin aggregates; kappa from exact "
    "BIGINT rational, one floored double",
    "spearman_daily": "calendar-bounded day series; histogram windows "
    "at day grain; integer doubled ranks",
    "negative_samples": "bounded k-way sequence explode + one keyed "
    "anti-join; draws are md5-pure, no RNG state",
    "quantile_normalize": "two histogram aggregates (per-source, "
    "pooled); windows over histogram grain; broadcast pooled cuts",
    "recursive_hierarchy": "engine-planned UnionLoop fixpoint (native "
    "WITH RECURSIVE); depth bounded by key width, not corpus size",
    "entropy_profile": "four keyed aggregates, each collapsing to one "
    "histogram row; the sorted-array float fold is per-row codegen",
    "seasonal_residual_anomalies": "two rank-selection windows sharing "
    "the event_type partitioning over day-grain rows; no division",
    "bigram_surprisal": "inline bigram transform (no positional "
    "self-join); count table joins back unhinted — AQE broadcasts while "
    "small, shuffles at vocab^2 scale; millibit terms sum as integers",
    "pysink_roundtrip": "python DataSourceWriter: executor-side staging "
    "writes + driver-side two-phase commit; read-back is a pinned-schema "
    "JSON scan",
    "ooo_audit": "one lag window per type in arrival order, then a "
    "grouped aggregate; exact epoch-microsecond integers",
    "points_in_zones": "literal edge table broadcast; integer ray-cast "
    "crossing flags in codegen; two keyed aggregates — linear in points",
    "bitmap_overlap": "two word-mask aggregates + one full-outer word "
    "join; data moved is ceil(|universe|/32) words per segment",
    "null_safe_join": "<=> plans the same hash-join shape as = (null-"
    "safe key); three small aggregates over the distinct key list",
    "sssp_weighted": "three relaxation rounds, each one src-keyed join "
    "+ min-aggregate; localCheckpoint truncates lineage per round",
    "interval_union": "island algebra in two windows sharing the user "
    "partitioning; no self-join, no explode",
    "rfm_scores": "quintile cuts from value-domain histograms (three "
    "1-row broadcasts); scoring is map-side CASE logic — no global "
    "user sort",
    "json_corrupt_audit": "text write + PERMISSIVE json scan with the "
    "rescue column; one global aggregate",
    "tz_local_daily": "timezone conversion in codegen over the scan; "
    "one keyed aggregate",
    "uplift_by_segment": "two user-grain aggregates; control table is "
    "segment-count-bounded, broadcast",
    "funnel_time_quartiles": "marks from one conditional-min pass; the "
    "rank window runs over converted-user-grain rows",
    "try_arithmetic": "single scan, NULL-on-error expressions in "
    "codegen, one aggregate",
    "extract_numbers": "regexp + HOF reduction per row in codegen; no "
    "shuffle",
    "stream_bitmap_distinct": "stateful streaming agg on (type, word) "
    "cells; OR-mergeable masks make batching invisible; post-drain "
    "re-reduce + popcount",
    "sentence_stats": "regex split + HOF reduction per row in codegen; "
    "no shuffle",
    "crosscorr_daily": "pivot to one row per day, eight leads in one "
    "window pass over the calendar-bounded spine, per-lag moment sums",
    "burst_max": "time-bounded RANGE frame per user + one max; no "
    "self-join",
    "business_lead_time": "one orderkey aggregate + join; the weekday "
    "walk is a bounded (<= 6 element) codegen HOF, not an explode",
    "ks_test": "value-domain histogram + one cumulative window; the "
    "single partition is histogram-grain",
    "gini_spend": "spend histogram + one cumulative window; no global "
    "user sort",
    "cramers_v": "chisq cells re-aggregated; margins enum-bounded",
    "psi_value_drift": "decile cuts from one histogram pass (1-row "
    "broadcast); binning is map-side CASE logic",
    "cogroup_reconcile": "FlatMapCoGroupsInPandas co-partitions both "
    "inputs on the key — one shuffle per side, one Arrow stage",
    "arrow_label_stats": "FlatMapGroupsInArrow over label groups; "
    "quantization stays JVM-side before the Arrow stage",
    "sql_ddl_roundtrip": "CTAS + INSERT INTO are write jobs; the "
    "read-back is a plain pruned parquet scan through the catalog",
    "nested_order_items": "one shuffle on the join key shared by the "
    "nested build and every HOF readout; sort_array neutralizes "
    "collect_list order",
    "k_anonymity": "two map-side-combinable keyed aggregates; output is "
    "a class-size histogram",
    "ols_two_factor": "one grouped aggregate builds the 3x3 Gram matrix "
    "as nine BIGINT sums (map-side partials); Cramer determinants are "
    "per-row codegen — no iteration, no driver matrix",
    "autocorr_daily": "spine explode + one sorted window pass carrying "
    "seven leads; regrouped map-side into types x lags cells",
    "chisq_independence": "cell counts + two margin re-aggregates (enum "
    "x 7 rows, provably bounded broadcasts); contribution is codegen",
    "rank_sum_test": "ranks assigned on the value-domain HISTOGRAM, not "
    "raw rows; the single-partition window is value-cardinality-bounded",
    "hll_overlap": "three conditional HLL sketches in ONE aggregate "
    "pass; exact side is a per-user flag rollup",
    "winsorized_stats": "per-type cumulative histogram window; cut "
    "points and clamped sums all from the histogram grain",
    "embedding_covariance": "per-row upper-triangle outer products in "
    "one codegen expression; shuffle carries <= d(d+1)/2 rows per task "
    "regardless of corpus size",
    "rollup_cascade": "hour agg absorbs the raw scan once; day and week "
    "levels aggregate hour-grain inputs; equality flags join the direct "
    "path only for verification",
    "record_linkage": "pass-1 equi-join on the selective digit key; "
    "pass-2 recovery blocks purged above max_block so the join can "
    "never go quadratic",
    "capped_running_sum": "deltas quantized JVM-side; one Arrow grouped "
    "map with O(1) per-key state over user-bounded groups",
    "jsonl_roundtrip": "gzipped JSONL write + pinned-schema read (no "
    "inference scan); final agg is one keyed shuffle",
    "image_downsample": "one Arrow-batched python stage (decode + numpy "
    "strided view); no shuffle",
    "assoc_rules": "basket-keyed self-join (bounded by basket size), "
    "min-support prune BEFORE the metric join; catalog-sized count "
    "tables attach via AQE-chosen joins",
    "forecast_backtest": "spine + one lag-7 window per type, one final "
    "aggregate; WAPE is a ratio of two exact sums",
    "ivm_agg_delta": "stored view is an ExistingRDD scan "
    "(localCheckpoint); delta partials touch only delta-sized inputs; "
    "zero-count groups filtered after the full-outer merge",
    "txn_delete_vectors": "merge-on-read: delete commits per-bucket key "
    "sidecars only (no rewrite); the read plans a key anti-join against "
    "the DV union — co-partitioned with downstream per-key work",
    "also_bought": "basket self-join keyed on l_orderkey (bounded by "
    "order size), one-vote-per-basket distinct, per-part window over "
    "catalog-bounded partner lists",
    "graph_bfs": "per-round frontier-edge equi-join + visited anti-join; "
    "localCheckpoint truncates lineage so the final plan reads "
    "materialized partitions, not 4 rounds of joins",
    "countmin_freq": "sketch build is ONE grouped agg into depth*width "
    "cells (bounded state); probe joins 20 keys x depth against the "
    "cell table — both sides bounded, AQE broadcasts",
    "rolling_median": "day-grain agg then one RANGE-frame window per "
    "event type; frame bounded by the trailing-days constant",
    "purchase_streaks": "distinct (user, day) reduction then two windows "
    "sharing the user partitioning; no self-join, no recursion",
    "trimmed_mean": "GROUPED_AGG pandas UDAF over |event types| groups; "
    "plain count from a separate JVM agg joined on the group key",
    "fixed_width_roundtrip": "text scan + pure-codegen substring/cast "
    "projection; write side is a single rpad concat",
    "cep_click_conversion": "union of starts + forbidden errors, one "
    "(ts,event_id,tag)-ordered window for the match bound, then a "
    "user-keyed interval join to purchases — same shape as cep_recovery "
    "but the bound comes from a different event stream",
    "knn_multiprobe_pairs": "home + one-bit-flip probe buckets explode "
    "(1+bits rows/vector) then ONE equi-join probe-bucket = home-bucket; "
    "never n^2 — multi-probe recall gain quantified by its recall query",
    "last_touch": "single user-keyed window carrying a null-unless-touch "
    "struct; last(ignorenulls) over the strictly-preceding frame replaces "
    "a p*t interval join with p+t rows",
    "scd2_point_in_time": "equi-join on the dimension key with interval "
    "bounds as residual filters; versions per key are bounded so no fanout",
    "multimodal_video_frames": "JVM-codegen container assembly (hex "
    "transform over a pixel-index sequence) then one Arrow-batched python "
    "stage seeking strided frames; no shuffle",
    "txn_point_lookup": "manifest-level bucket pruning BEFORE the scan: "
    "keys -> murmur3 buckets -> file subset; the IN filter pushes into "
    "the pruned parquet scan",
    "bitmap_distinct": "two plain hash aggregates (mask build is codegen); "
    "shuffle carries one word-row per (group, word) partial",
    "pareto_frontier": "distinct-point aggregate bounds the single global "
    "window; the WindowExec single-partition warning is the documented "
    "final merge over the collapsed point set",
    "bpe_pairs": "pair explode runs over the DISTINCT-word vocabulary; "
    "top-k is TakeOrderedAndProject",
    "tfidf_similar": "posting self-join keyed on term, df-capped; df map "
    "broadcast; top-k TakeOrderedAndProject",
    "cusum_changepoints": "one shuffle on station; two cumulative windows "
    "share the sort",
    "multimodal_wav_stats": "two Arrow-batched python stages (encode, "
    "decode) over the scan; no shuffle",
    "geo_hotspots": "cell counts first, 9x offset explode over CELLS; "
    "TakeOrderedAndProject top-k",
    "udtf_sliding_chunks": "single Generate (ArrowEvalPython UDTF) over "
    "the scan; no shuffle",
    "phrase_search": "per-term posting filters then (doc, pos)-keyed "
    "equi-joins; never a regex scan at query time",
    "corr_pairs": "ONE aggregate pass for all ten moments; final struct "
    "explode is driver-free",
    "window_distinct": "distinct pairs -> 7x explode -> distinct -> "
    "count; all shuffles key-partitioned, no day x day join",
    "feature_iqr": "one shuffle on group, one sorted window, final agg",
    "knn_classify": "brute-force tier reuses cosine_topk (broadcast "
    "queries); vote + argmax are two small shuffles on q_id",
    "ewma_daily": "one station shuffle; collect_list window then per-row "
    "HOF arithmetic in codegen",
    "replica_diff": "two digest folds (map-side combinable xor) + a "
    "256-row full-outer join",
    "gdpr_erase": "cascade of filters/aggregates; the crossJoins are "
    "1-row stat attaches",
    "kcore_peel": "three degree-aggregate + semi-join rounds, all keyed "
    "shuffles; alive sets broadcast when small",
    "mom_change": "one priority-keyed shuffle shared by agg and lag window",
    "label_centroids": "centroid sums via posexplode agg (label x dim "
    "rows); centroids broadcast back; member pass is map-side",
    "tokenizer_drift": "single scan, two regexp_count codegen expressions",
    "peak_concurrency": "per-user sessionize windows, then the global "
    "sweep window over 2x#sessions marks (tiny; single-partition by design)",
    "near_dup_events": "one (user, type) shuffle, lag window, final agg",
    "topk_with_ties": "counts shuffle + month-partitioned rank window",
    "ab_lift": "user-grain agg then 2-row variant agg; baseline attach "
    "is a 1-row broadcast",
    "dow_seasonality": "two aggregates sharing the station key; totals "
    "broadcast-joined",
    "ivm_join": "stored view is an ExistingRDD scan (localCheckpoint); "
    "delta joined to broadcast dims; full-outer merge on the view key",
    "mixture_deficit": "one scan + tiny aggregates; totals and targets "
    "are 1-row/20-row broadcast attaches",
    "group_split": "fold is a pure hash expression; one grouped count",
    "source_divergence": "head terms + totals broadcast; dense grid is "
    "sources x 100 rows; single integer division per source",
    "embedding_drift": "two centroid-sum aggregates keyed on (label, "
    "half); final cosine is per-row HOF arithmetic",
    "arrow_vector_stats": "single ArrowEvalPython (mapInArrow) stage "
    "over the scan; no shuffle",
    "stream_multibatch_totals": "three stateful micro-batches; state "
    "keyed on user_id",
    "cube_distinct": "Expand x4 grouping sets BEFORE the distinct "
    "aggregate (non-additive measure; HLL per cell is the scale swap)",
    "jaccard_prefix": "candidates keyed on PREFIX shingles only "
    "(rarest-first order); verification joins full postings of "
    "candidates; broadcast df/size maps",
    "cep_recovery": "one user_id shuffle for the lead window; purchase "
    "probe is a keyed interval join",
    "theil_sen": "pairwise explode bounded per key (calendar days); "
    "rank window shares the station partitioning",
    "benford_audit": "one scan, 9-row aggregate; expectation table and "
    "total are broadcast attaches",
    "fd_violations": "one keyed aggregate per candidate FD, unioned "
    "1-row reports",
    "debounce_events": "grouped-map (Arrow) walk per user — the "
    "sanctioned escape hatch for decision-dependent state",
    "share_of_parent": "one rollup, two window sums over the rolled-up "
    "rows (25 rows — single-partition window is the answer size)",
    "knn_blocked_pairs": "pair scoring keyed on the sign bucket (sum of "
    "squared block sizes, never n^2); per-src window top-k then the "
    "mutuality group",
    "fact_trips": "both dims broadcast (J1/J2); exchanges are the spread() "
    "rebalances + staging groupBys, not join shuffles",
    "pricing_summary": "partial+final HashAggregate; shipdate filter and "
    "6/11-column pruning pushed to the parquet scan",
    "revenue_by_nation": "3-dim join chain, all broadcast; one shuffle for "
    "the final rollup",
    "range_price_match": "bucketized interval join -> pure equi hash join; "
    "no BroadcastNestedLoopJoin",
    "dedup_minhash": "banded LSH self-join on (band_no, key); signature agg "
    "is partial before its shuffle",
    "dedup_ngram_jaccard": "posting-list self-join keyed on shingle; the "
    "skew backstop is AQE skew-join. The nested-loop entries are 1-ROW "
    "broadcast scalar attaches (the in-plan doc count for the frequency "
    "cap), not data-data products",
    "ann_cosine_topk": "BroadcastNestedLoopJoin is EXPECTED here: tiny "
    "query set broadcast against a streamed corpus scan is the brute-force "
    "baseline by construction; per-query window rank after",
    "sessionize": "single exchange on user_id shared by both windows",
    "exists_big_spenders": "correlated EXISTS decorrelated to a broadcast "
    "semi join on the filtered orders side",
    "rollup_revenue": "grouping sets expand then aggregate partially "
    "map-side; one exchange",
    "bm25_topk": "postings restricted to query terms before any join; "
    "df/stats broadcast; top-k via TakeOrderedAndProject. Nested-loop "
    "entries are the 1-ROW corpus-stats broadcast attach, not products",
    "pack_sequences": "one exchange on pack_group shared by the cumsum "
    "window; bin arithmetic stays in codegen",
    "window_funcs": "five window functions over ONE shared (custkey) "
    "exchange + sort",
    "skew_salted_agg": "hot 3-value key scattered over 16 salts; small "
    "side exploded+broadcast, no skewed partition",
    "lake_roundtrip": "read-back scan carries PartitionFilters "
    "(directory pruning) — asserted in tests/test_plans.py",
    "station_neighbors": "grid-blocked distance join: explode x9 then a "
    "plain hash equi-join on the cell key — linear shuffle, never "
    "all-pairs; exact integer dist^2 verify after",
    "knn_mutual_pairs": "BroadcastNestedLoopJoin is the EXACT brute-force "
    "baseline (bounded corpus / per-block usage); mutuality via one "
    "canonical-pair groupBy — the kNN pipeline runs ONCE, no self-join "
    "re-execution",
    "gap_fill_daily": "spine generated from the per-key span aggregate "
    "(sequence+explode, no driver loop); fill join reuses the key "
    "partitioning",
    "cohort_retention": "first-seen table user-keyed like the activity "
    "scan (co-located join); cohort sizes broadcast",
    "tpch_shipping_priority": "filtered customer segment broadcast; "
    "per-side date filters pushed into both scans; final top-10 is "
    "TakeOrderedAndProject",
    "token_colocation": "corpus exploded ONCE; pair counts materialized "
    "(localCheckpoint) then re-aggregated for the marginals; marginals "
    "broadcast back",
    "key_skew_profile": "grouped count with map-side partials; 1-row "
    "total broadcast-attached; TakeOrderedAndProject top-k",
    "referential_orphans": "keys-only left_anti joins (shuffle carries "
    "the key column, nothing else); parent key sets distinct+broadcast",
    "tpch_min_cost_supplier": "Q2 correlated scalar min decorrelated to "
    "a per-part aggregate joined back; all dims broadcast. partsupp is "
    "the MATERIALIZED ps_partkey-bucketed table (ensure_partsupp) — the "
    "two in-plan DISTINCT derivations of rounds 1-4 are gone; the scalar-"
    "subquery copy reads the same bucketed files",
    "tpch_product_profit": "Q9 six-table star joining the materialized "
    "bucketed partsupp on its compound (partkey, suppkey) key; dims "
    "broadcast; lineitem side shuffles once",
    "lake_merge": "the RETURNED plan is a plain parquet scan of the ACID "
    "table's current-version files (manifest-resolved) — merge work "
    "happened in the two committed versions; at scale only changed "
    "buckets were rewritten (copy-on-write)",
    "stream_txn_merge": "returned plan reads the transactional table's "
    "final snapshot + tombstone filter; the drain itself ran per-batch "
    "key-partitioned merges with txn-id replay skip",
    "ann_pq_topk": "ADC search: cached codebooks broadcast into the "
    "distance table, ONE hash join onto the code table, grouped ordered "
    "fold — raw corpus vectors never touched at search time",
    "graph_pagerank": "per iteration: rank vector broadcast onto the "
    "cached edge list (Pregel vertex-state shape), one dst-keyed "
    "aggregate exchange; edges/degrees computed once and cached",
    "orc_roundtrip": "ORC read-back scan carries PartitionFilters on "
    "o_orderstatus — pruning/pushdown are format-portable",
    "hybrid_rrf": "each leg bounded (BM25 postings restricted to query "
    "terms; cosine leg broadcast-query); the fusion itself is a tiny "
    "full-outer join of two depth-k lists — global window is fine on "
    "<=2k rows",
    "graph_triangles": "degree-oriented wedge join: out-degree bounded "
    "O(sqrt m), both joins plain equi hash joins on a vertex key; "
    "edge set cached and reused three times in one plan",
    "hll_incremental_distinct": "per-hour sketches are map-side partial "
    "aggregates; the day rollup shuffles 24 tiny sketch rows per day, "
    "never raw data; the exact column exists for the oracle only",
    "variant_props_rollup": "parse_json evaluated once per row inside "
    "codegen; variant_get is a binary field access, not a re-parse",
    "pysource_agg": "custom source plans 8 InputPartitions; rows cross "
    "the Python/JVM boundary as Arrow RecordBatches, then the aggregate "
    "is ordinary partial+final JVM hash agg",
    "tpch_waiting_suppliers": "Q21 EXISTS -> broadcast semi join, "
    "NOT EXISTS -> broadcast anti join on the same orderkey; no "
    "cartesian fallback from the double correlation",
    "dedup_incremental": "asymmetric band join: new-shard bands x old "
    "bands (hash equi-join on band key), old x old never formed; exact "
    "tier is one shuffle on the md5 digest; exact wins via left_anti",
    "ann_ivf_topk": "search against the index built in the query and "
    "cached through caching.cached (InMemoryTableScan): centroid routing "
    "broadcast, candidates via hash join on cid, per-query top-k window; "
    "the index is released with every other operator cache",
    "multimodal_png_pixels": "two Arrow-batched mapInPandas stages "
    "(encode, decode) — payload bytes cross the JVM boundary once per "
    "batch; everything between stays columnar",
    "tpch_local_supplier_volume": "6-table Q5 cycle: region/nation/"
    "supplier broadcast, one shuffle join (orders-lineitem) + final "
    "per-nation agg; date+region filters prune before any join",
    "tpch_discounted_revenue": "Q19 OR-of-ANDs: ONE hash join on "
    "p_partkey with the disjunction as a residual post-join filter; "
    "per-side prunable conjuncts pushed into both scans",
    "contamination_check": "grams hashed to ints pre-shuffle; "
    "train-distinct + left join + per-doc rollup are the three key "
    "shuffles; explode_outer avoids the Generate-filter recompute",
    "incident_exposure": "intervals exploded onto the hour grid; plain "
    "equi-join on cell + exact overlap filter + pair dedup — never a "
    "time-theta BroadcastNestedLoopJoin",
    "asof_nearest": "ONE exchange on the key, two in-partition sorts "
    "(asc/desc carries); closer-side pick is per-row arithmetic",
    "text_repetition": "tokenize ONCE into a projection; per-row array "
    "stats ride the bigram explode as group keys — documents scanned "
    "once, two partial-agg shuffles on the doc key",
}


def main() -> None:
    from data_lake_for_citi_bike_trip_spark.plans.explain import plan_facts
    from data_lake_for_citi_bike_trip_spark.session import get_session
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_session("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    lines = [
        "# PLANS — physical-plan review of the full contract surface",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` — one row per",
        "`queries()` entry. The scale properties asserted in CI live in",
        "`tests/test_plans.py`; this file records the current plan shapes,",
        "annotated notes for the headline queries, and one annotated plan.",
        "`cartesian` counts CartesianProduct nodes (expected 0 everywhere;",
        "`tests/test_plans.py` fails the build if a contract query plans one).",
        "",
        "| query | broadcast | sort-merge | nested-loop | cartesian | exchanges | codegen spans | pushdown |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details = []
    cartesian = []
    for name in qs:
        try:
            f = plan_facts(qs[name](spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — record, don't abort the dump
            lines.append(f"| {name} | plan error: {type(exc).__name__} | | | | | | |")
            continue
        ncart = f["plan"].count("CartesianProduct")
        if ncart:
            cartesian.append(name)
        lines.append(
            f"| {name} | {f['broadcast_joins']} | {f['sortmerge_joins']} | "
            f"{f['nested_loop_joins']} | {ncart} | {f['exchanges']} | "
            f"{f['codegen_stages']} | {'yes' if f['pushed_filters'] else 'n/a'} |"
        )
        if name in NOTES:
            details.append(f"- **{name}** — {NOTES[name]}")
    lines += [
        "",
        f"Surface: {len(qs)} queries; CartesianProduct plans: "
        f"{cartesian if cartesian else 'none'}.",
        "",
        "## Notes (headline queries)",
        "",
    ] + details
    f = plan_facts(qs["pricing_summary"](spark, sf_dir))
    lines += [
        "",
        "## Annotated example: pricing_summary",
        "",
        "```",
        f["plan"].strip(),
        "```",
        "",
    ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as out:
        out.write("\n".join(lines))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
