"""Every registry query's physical plan passes the anti-pattern linter and
has the shape it was built for.

Builds each queries() entry at sf0.001 (plan analysis only — no execution
beyond what query construction itself does) and asserts no error-severity
finding, with declared exceptions for deliberate patterns, no
single-partition window, and the query's PLAN_SHAPES row.
"""

import re

import pytest

import __spark_entry__ as entrymod
from iatlas_cbioportal_export_spark.plans.linter import (
    assert_scale_safe,
    formatted_plan,
    unpartitioned_windows,
)

SF_DIR = "/root/testdata/sf0.001"

# deliberate nested-loop users: broadcast cross joins against tiny sides
ALLOW_NESTED_LOOP = {
    "sim_topk_bruteforce",     # scoring vs broadcast query set
    "eval_mrr",                # nests the brute-force scorer (same cross)
    "events_resample_ffill",   # keys x 1-row global-span broadcast cross
    "decontamination",         # 1-row snippet crossJoin (planted contract)
    "tpch_q11_important_parts",  # HAVING-over-scalar: one-row broadcast join
    "tpch_q22_sales_opportunity",  # scalar avg subquery, one-row broadcast
    "text_tfidf",              # corpus-size scalar: one-row broadcast join
    "text_bm25",               # avg-doc-length scalar: one-row broadcast join
    "text_inverted_index",     # corpus-count scalar for the df gate: one-row broadcast join (r10)
    "v_validation_suite",      # 1-row aggregate crossJoins (finding rows)
    "text_unigram_logprob",    # corpus-total scalar: one-row broadcast join
    "text_naive_bayes",        # k-row class table (priors/defaults) broadcast cross
    "profile_join_cardinality",  # three ONE-ROW totals frames broadcast-crossed
    "sample_class_balanced",   # one-row min-class-count broadcast cross
    "text_length_histogram",   # corpus-total scalar: one-row broadcast join
    "sample_mixture_weights",  # one-row weight-total broadcast cross
    "text_bigram_logprob",     # corpus-total scalar: one-row broadcast join
    "text_trigram_backoff",    # corpus-total scalar: one-row broadcast join
    "text_cooccurrence_pmi",   # pair/token totals: one-row broadcast join
    "stats_chi_square",        # r x c marginal grid: categorical-sized broadcast cross
    "stats_psi_drift",         # bin totals: one-row broadcast join
    "stats_ks_test",           # sample totals: one-row broadcast join
    "maf_gene_cooccurrence",   # top-gene pair grid + totals: tiny broadcast crosses
    "graph_triangles",         # stats assembly: one-row broadcast crosses
    "stats_ab_ztest",          # two one-row bucket frames crossed
    "graph_kcore",             # driver-literal result frame (LocalTableScan)
    "stats_correlation",       # driver-literal result frame (LocalTableScan)
    "graph_bfs",               # 1-row source frame union/joins
    "sim_association_rules",   # basket-count scalar: one-row broadcast join
    "graph_label_propagation", # checkpointed per-round state scans
    "stats_mutual_information",# marginal/total one-row broadcast crosses
    "events_time_to_convert",  # two 1-row percentile picks broadcast-crossed
    "profile_key_skew",        # (total, n_keys) scalar: one-row broadcast join
    "sim_mips_topk",           # scoring vs broadcast query set (= bruteforce)
    "text_vocab_growth",       # two 1-row aggregates crossed (curve assembly)
    "sketch_hll_set_ops",      # 1-row est x 1-row exact crossed (report row)
    "graph_hits",              # L1-norm totals: one-row broadcast crosses
    "constraint_suite",        # FK finding row: 1-row count x 1-row total
}

# query -> (patterns its explain('formatted') plan must contain, patterns it
# must not). "a|b" matches either; "re:..." is a regex. No row repeats the
# linter: CartesianProduct is always an error, BroadcastNestedLoopJoin one
# outside ALLOW_NESTED_LOOP. Checked on the static plan (adaptive execution
# off): the initial adaptive plan has no codegen stages, so no "codegen id".
PLAN_SHAPES: dict[str, tuple[list[str], list[str]]] = {
    "flagship_case_lists": (["BroadcastHashJoin", "codegen id"], []),
    "clinical_e2e_preprocess": (["BroadcastHashJoin", "codegen id"], []),
    "tpch_q1_pricing_summary": (
        ["codegen id", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["Exchange hashpartitioning(l_orderkey"],
    ),
    "tpch_q3_shipping_priority": (["BroadcastHashJoin", "PushedFilters: [IsNotNull"], []),
    "tpch_q4_order_priority": (["LeftSemi", "PushedFilters: [IsNotNull(o_orderdate)"], []),
    "tpch_q5_local_supplier": (["BroadcastHashJoin"], []),
    "tpch_q6_forecast_revenue": (
        ["PushedFilters: [IsNotNull(l_shipdate)"],
        ["Exchange hashpartitioning"],
    ),
    # q2: correlated-min subquery → aggregate re-joined to per-part min;
    # all dims broadcast, no nested loop anywhere
    "tpch_q2_min_cost_supplier": (["BroadcastHashJoin", "LeftSemi"], []),
    # q11: HAVING-over-scalar-subquery must plan as a one-row broadcast join,
    # not a cartesian of the per-part aggregate with the total
    "tpch_q11_important_parts": (["BroadcastNestedLoopJoin|BroadcastHashJoin"], []),
    # q17: correlated per-part AVG → broadcast join back, single lineitem scan
    # family (semi + agg), no shuffle of the unfiltered fact
    "tpch_q17_small_qty_revenue": (["BroadcastHashJoin", "LeftSemi"], ["SortMergeJoin"]),
    # q19: OR-of-ANDs must stay a broadcast equi-join with the disjunction as
    # a post-join filter — never a nested loop
    "tpch_q19_brand_bands": (["BroadcastHashJoin", "PushedFilters: [IsNotNull"], []),
    # q21: the EXISTS/NOT-EXISTS pair compiles to ONE per-order aggregate +
    # semi-joins — no correlated re-scans, no nested loop
    "tpch_q21_waiting_suppliers": (["LeftSemi", "BroadcastHashJoin"], []),
    "j1_broadcast_left_join": (
        [
            "BroadcastHashJoin",
            "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>",
        ],
        ["SortMergeJoin"],
    ),
    "j5_semi_join": (["LeftSemi"], []),
    "asof_join_last_purchase": (["Window"], []),
    # the whole point: the interval predicate must NOT plan as a nested loop
    "range_join_qty_size": (["Generate", "BroadcastHashJoin"], []),
    "a8_keep_latest": (["Window", "row_number"], []),
    "window_topk_per_group": (["Window", "rank"], []),
    # rollup = ONE Expand + ONE aggregate — not a shuffle per grouping level
    "rollup_revenue": (["Expand", "HashAggregate"], []),
    "cube_revenue": (["Expand", "HashAggregate"], []),
    # explode-contribution reshuffle — each day's total fans out to
    # its N target days (Generate), target sums are a keyed groupBy, and
    # the join back to the daily frame keeps existing days; NO window
    "window_moving_avg": (["Generate", "HashAggregate"], ["Window"]),
    "percentiles_by_segment": (["Window", "row_number"], []),
    # interval predicate must ride the user_id equi-join, never a nested loop
    "events_attribution": (["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"], []),
    "dedup_exact": (["HashAggregate"], ["Exchange rangepartitioning"]),
    # deliberate broadcast cross join for scoring; the MapInPandas stage
    # is the per-partition partial top-k that keeps the |Q|x|C| scored
    # triples OUT of the final per-query window exchange
    "sim_topk_bruteforce": (["BroadcastNestedLoopJoin", "MapInPandas"], []),
    "sim_ann_lsh": (["BroadcastHashJoin"], []),
    # near-dup candidates join on (id, signature) only; vectors come back via
    # semi-join, so the bucket exchange never carries embedding arrays
    "embedding_near_dup": (["LeftSemi"], []),
    "maf_annotate_pipeline": (["MapInPandas", "ArrowEvalPython|MapInPandas"], []),
    # the error side-band is a filter over the same mapInPandas stage —
    # no extra scan, no join
    "maf_error_report": (["MapInPandas"], []),
    # %.12g rendering is a NARROW Arrow-batched projection — a shuffle
    # here would mean the formatter moved data to format it
    "s5_float_g_format": (["ArrowEvalPython"], ["Exchange"]),
    # top-k over the n-gram dictionary must be heap-based, never a full sort
    "text_top_ngrams": (["TakeOrderedAndProject"], []),
    # dedup stage joins keepers back by semi-join; no fact-side blowup
    "curation_pipeline": (["LeftSemi"], []),
    "text_tfidf": (["HashAggregate", "Window"], []),
    # quantization encodes and hash-sampling are NARROW maps/filters — a
    # shuffle anywhere in these plans is a design regression
    "sim_quantize_codes": (["Scan parquet"], ["Exchange"]),
    "sim_pq_codes": (["Scan parquet"], ["Exchange"]),
    "data_splits": (["Scan parquet"], []),
    "source_mixture": (["Scan parquet", "PushedFilters"], ["Exchange"]),
    "text_chunking": (["Generate", "Scan parquet"], ["Exchange"]),
    "text_token_stats": (["Scan parquet"], ["Exchange"]),
    "events_sessionize": (["Window"], []),
    # narrow curation passes: pure per-row maps — no shuffle anywhere
    "pii_redaction": (["codegen id"], ["Exchange"]),
    "repetition_removal": (["codegen id"], ["Exchange"]),
    "gopher_quality": (["codegen id"], ["Exchange"]),
    # benchmark n-gram set broadcasts (the gram join must NOT sort-merge);
    # the zero-hit restore join is left to AQE — its size is runtime data
    "decontamination": (
        [r"re:BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[gram"],
        [r"re:SortMergeJoin[^\n]*\nLeft keys \[1\]: \[gram"],
    ),
    "text_normalize": (["codegen id"], ["Exchange"]),
    # one shuffle (hash by stratum) feeding the window — and nothing else
    "sequence_packing": (["Window", r"re:Arguments: hashpartitioning\(stratum"], []),
    "emb_l2_normalize": (["codegen id"], ["Exchange"]),
    "emb_mean_pool": (["HashAggregate"], []),
    # batch×corpus band join: equi-join on (band_id, band_hash), no
    # all-pairs anywhere
    "dedup_cross_corpus": (["HashAggregate"], []),
    # distinct keys through the Python stage, join fan-out back
    "maf_annotate_by_variant": (["MapInPandas", "HashAggregate"], []),
    # narrow: the whole tokenize→bucket→normalize fold is one projection
    "text_hashed_embedding": (["Generate"], ["Exchange"]),
    # sliding windows expand map-side (Expand/Generate), one aggregation
    "events_sliding_counts": (["Expand|Generate", "HashAggregate"], []),
    # stream-static enrichment: dimension broadcasts, fact never shuffles
    # for the join (the agg shuffle is the only exchange)
    "stream_enriched_counts": (["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    "events_incremental_rollup": (["Union", "HashAggregate"], []),
    # vocab join stays an equi-join; the one-row total broadcasts
    "text_unigram_logprob": (["HashAggregate"], []),
    "text_length_histogram": (["HashAggregate"], ["SortMergeJoin"]),
    # window dedup: only (id, hash) longs through the wide stages; the text
    # column must never reach an Exchange (scan → project → explode)
    "dedup_span_windows": (["HashAggregate", "codegen id"], []),
    # the whole point: edit-distance matching WITHOUT the |L|x|R| product
    "fuzzy_join_names": (["HashAggregate"], []),
    # K=4 rounds NESTED into one plan (_PR_CHECKPOINT_INTERVAL=4, measured 2.6×
    # vs per-round truncation): the visible tree carries the per-round
    # equi-joins over the checkpointed edge/node state (Scan ExistingRDD) —
    # equi-joins only, never a nested loop
    "graph_pagerank": (["Scan ExistingRDD", "HashAggregate"], []),
    "text_bpe_train": (["Scan ExistingRDD", "HashAggregate"], []),
    # apply side is 100% narrow: no exchange at all before the final project
    "text_bpe_segment": (["codegen id"], ["Exchange"]),
    "events_retention": (["HashAggregate"], []),
    # equality on user_id keeps the interval residual out of the join
    # strategy: hash join, never a nested loop
    "events_attribution_outer": (
        ["BroadcastHashJoin LeftOuter|SortMergeJoin LeftOuter"],
        [],
    ),
    # every ranking function shares ONE Window node / one exchange+sort:
    # all six functions appear in the single node's argument list, and a
    # second Window header must not exist
    "window_rank_suite": (
        [r"re:Arguments: \[rank\(.*dense_rank\(.*percent_rank\(.*cume_dist\(.*ntile\("],
        [r"re:\(\d+\) Window(.|\n)*\(\d+\) Window"],
    ),
    # boundaries are literals by query time: assignment is a narrow CASE,
    # the only exchange is the 4-bucket aggregate's
    "equi_depth_bins": (["HashAggregate"], ["Sort ", "Window"]),
    "lpm_join_categories": (["BroadcastHashJoin", "HashAggregate"], []),
    # pair expansion narrow; shuffles are count aggregates; top-N is a heap
    # (the totals crossJoin is the declared one-row broadcast in
    # ALLOW_NESTED_LOOP)
    "text_cooccurrence_pmi": (["TakeOrderedAndProject", "HashAggregate"], []),
    # grid-cell bucketing keeps the overlap join on the hash-equi path
    "events_interval_overlap": (["HashAggregate|SortMergeJoin|ShuffledHashJoin"], []),
    "clinical_kaplan_meier": (["Window", "HashAggregate"], []),
    "clinical_logrank": (["Window", "HashAggregate"], []),
    # gene ranking runs EAGERLY at construction (TakeOrdered heap,
    # collected, rank stamped driver-side) so the returned plan is the
    # matrix aggregate joined to a literal rank frame — broadcast, no
    # window, no sort
    "maf_oncoprint": (
        ["BroadcastHashJoin", "Scan ExistingRDD", "HashAggregate"],
        ["Window"],
    ),
    "stats_chi_square": (["HashAggregate"], []),
    "events_streaks": (["Window", "HashAggregate"], []),
    # ONE aggregate computes all five sums; no window, no second pass
    "stats_linear_trend": (["HashAggregate"], ["Window"]),
    "stats_psi_drift": (["HashAggregate"], []),
    "stats_ks_test": (["Window", "HashAggregate"], []),
    "maf_gene_cooccurrence": (["HashAggregate"], []),
    # series collect is per-key ObjectHashAggregate; fold is narrow
    "events_exp_smoothing": (["ObjectHashAggregate|SortAggregate"], []),
    "events_transition_matrix": (["Window", "HashAggregate", "BroadcastHashJoin"], []),
    # entirely narrow until the posexplode projection
    "emb_random_projection": (["posexplode"], ["Exchange"]),
    # wedge + closing joins stay hash joins on rank-encoded longs
    "graph_triangles": (["Scan ExistingRDD"], []),
    "dedup_jaccard_prefix": (["HashAggregate"], []),
    # per-user pair join + broadcast totals + top-N heap
    "sim_item_cf": (["TakeOrderedAndProject", "BroadcastHashJoin"], []),
    "sim_association_rules": (["TakeOrderedAndProject", "BroadcastHashJoin"], []),
    # final state is the round-3 checkpoint union — LogicalRDD scans only
    "graph_bfs": (["Scan ExistingRDD"], []),
    "events_seasonal_residuals": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["SortMergeJoin"],
    ),
    "stats_mad_outliers": (["Window", "BroadcastHashJoin"], []),
    "graph_label_propagation": (["Scan ExistingRDD"], []),
    "stats_mutual_information": (["HashAggregate"], []),
    "events_time_to_convert": (["HashAggregate", "Window"], []),
    # entirely narrow: split/filter/fold per row, no exchange before the agg
    "text_char_entropy": (["codegen id"], ["Exchange"]),
    # the groupBy/totals/TakeOrdered all run EAGERLY at construction
    # and the ≤k ranked rows come back as a literal frame — the returned
    # plan is a pure LocalTableScan (rank stamped driver-side, no window)
    "profile_key_skew": (["Scan ExistingRDD"], ["SortMergeJoin", "Window", "Exchange"]),
    # reads back the COMPACTED files; one aggregate, no joins at all
    "layout_compaction": (
        ["HashAggregate", "codegen id"],
        ["SortMergeJoin", "BroadcastHashJoin"],
    ),
    # the deliberate broadcast cross join of the exact path (same contract as
    # sim_topk_bruteforce) + the no-shuffle partial top-k mapInPandas stage
    "sim_mips_topk": (
        ["BroadcastNestedLoopJoin", "ArrowEvalPython|MapInPandas"],
        ["SortMergeJoin"],
    ),
    # one token-dictionary aggregate serves every fraction; the two 1-row
    # aggregates meet in a broadcast nested-loop (1x1 rows - bounded)
    "text_vocab_growth": (["HashAggregate"], ["SortMergeJoin"]),
    # register build is one map-side-combined groupBy (≤ groups·m rows
    # shuffle); the sketch↔exact meet is a small broadcast join
    "sketch_hll_distinct": (["HashAggregate", "codegen id"], ["SortMergeJoin"]),
    # fact side is NARROW (literal bitmask test — no shuffle, no fact-side
    # sort); the truth twin is a broadcast join against the KB dim keyset
    "sketch_bloom_prefilter": (["BroadcastHashJoin", "HashAggregate"], ["SortMergeJoin"]),
    # register algebra over m-row tables; the 1-row est×exact meet is a
    # broadcast nested-loop by construction (1x1 rows — bounded)
    "sketch_hll_set_ops": (["HashAggregate", "BroadcastNestedLoopJoin"], ["SortMergeJoin"]),
    # XML scan + declared schema: a plain distributed scan, no joins
    "xml_roundtrip": (["Scan"], ["SortMergeJoin", "Exchange hashpartitioning"]),
    # one map-side-combined scan of the clustered table builds the whole
    # report; no joins touch the data
    "zonemap_pruning": (
        ["HashAggregate", "codegen id"],
        ["SortMergeJoin", "BroadcastHashJoin"],
    ),
    # MG partials via mapInPandas (k-bounded rows per task); the summary
    # joins the heavy set broadcast — candidates never shuffle
    "sketch_heavy_hitters": (["MapInPandas", "BroadcastHashJoin"], ["SortMergeJoin"]),
    # (id, term) pairs and postings are the only shuffles; the df gate is a
    # one-row broadcast cross against the corpus count (ALLOW_NESTED_LOOP)
    "text_inverted_index": (["HashAggregate", "codegen id"], []),
    # 100% narrow: one projection over the scan, zero exchanges
    "text_quality_classifier": (
        ["codegen id"],
        ["SortMergeJoin", "BroadcastHashJoin", "Exchange hashpartitioning"],
    ),
    # two aggregations, both map-side combined; nothing but (group, word)
    # masks ever shuffles
    "sketch_bitmap_distinct": (
        ["HashAggregate", "codegen id"],
        ["SortMergeJoin", "BroadcastHashJoin"],
    ),
    # ONE full-outer equi-join decides every label; no nested loop
    "snapshot_diff": (["FullOuter", "codegen id"], []),
    # grid from a 1-row broadcast span (bounded BNLJ by construction);
    # obs groupBy map-side combined; fill window over panel-sized data
    "events_resample_ffill": (["HashAggregate", "Window"], ["SortMergeJoin"]),
    # two generations as one mergeSchema scan — a plain union of file
    # splits, no joins
    "parquet_schema_evolution": (["Scan parquet"], ["SortMergeJoin", "BroadcastHashJoin"]),
    # whole-file binary rows joined to the 60-row doc slice (broadcast)
    "multimodal_binary_ingest": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # same nested shape as graph_pagerank + the top-200 TakeOrdered
    "graph_ppr": (["Scan ExistingRDD", "TakeOrderedAndProject"], []),
    # dense bounded slice → block-GEMM Arrow kernel (one collect-guarded
    # scan + MapInPandas); exactness comes from integer math, not a
    # nested loop. The sparse/unbounded exact path is the postings join.
    "text_cosine_pairs": (["MapInPandas"], []),
    # two-phase running sum: corpus window is PARTITIONED (by bucket); the
    # bucket offsets are a driver-side prefix sum stamped back as a literal
    # map — NO offsets join and NO unpartitioned window in the plan
    "running_revenue": (["Window", "codegen id"], []),
    # salted fact side joins the 16x-replicated dim on (key, salt)
    "salted_skew_join": (["HashAggregate", "codegen id"], ["SortMergeJoin"]),
    # nested integer rounds like pagerank; the only nested loops are the
    # one-row L1-total broadcasts, and the big node-state equi-joins may
    # legitimately sort-merge (both sides grow with the graph)
    "graph_hits": (["Scan ExistingRDD", "TakeOrderedAndProject"], []),
    # train counts + tf are map-side combined; trained-likelihood join is
    # a plain equi-join on (tok,label); the k-row class table broadcasts
    "text_naive_bayes": (["HashAggregate", "BroadcastHashJoin", "Window"], []),
    # ONE scan: all statistics ride a single aggregate (the multi-distinct
    # Expand shares that scan — a SortAggregate here: the first()-carried
    # stats aren't hash-agg-supported); no joins at all
    "profile_table": (["Expand", "Aggregate"], ["SortMergeJoin", "BroadcastHashJoin"]),
    # frontier-optimized Bellman-Ford: per-round equi-joins over
    # checkpointed state; no nested loops anywhere
    "graph_sssp": (["Scan ExistingRDD"], []),
    # blocked equi-join on (nationkey, blk); scoring is a pure projection
    # (u-probs baked as literals) — no per-pair aggregation
    "entity_fs_linkage": (["codegen id"], []),
    # ten normal-equation sums in ONE map-side-combined aggregate; Cramer
    # algebra is a literal projection
    "stats_ols_multi": (
        ["HashAggregate", "codegen id"],
        ["SortMergeJoin", "BroadcastHashJoin"],
    ),
    # corpus touched once (cell assignment + count); cluster merge runs on
    # the checkpointed cell graph; border attach joins cells, not points
    "sim_grid_dbscan": (["HashAggregate", "Scan ExistingRDD"], []),
    # corpus branch is ONE narrow Arrow encode to (id, cell, codes) (a
    # literal-codebook Catalyst expression's compile dominated the wall);
    # probes broadcast into an equi-join, ADC scoring is the second Arrow
    # stage
    "sim_ivfpq_topk": (["BroadcastHashJoin", "Window", "MapInPandas"], ["SortMergeJoin"]),
    # distinct-score count table is the only windowed state; the corpus
    # pass is the classifier's narrow projection + one groupBy
    "eval_auc": (["HashAggregate", "Window"], []),
    # one map-side-combined groupBy + TakeOrdered heap
    "stream_topk_snapshot": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["SortMergeJoin", "Window"],
    ),
    # the whole matrix rides one fused aggregate on user_id
    "events_feature_matrix": (["HashAggregate"], ["SortMergeJoin", "BroadcastHashJoin"]),
    # all moments in ONE aggregate; the cell table is an exploded literal
    "stats_covariance_matrix": (
        ["Aggregate"],
        ["SortMergeJoin", "BroadcastHashJoin", "Exchange hashpartitioning"],
    ),
    # two key histograms + a histogram-sized equi-join; the one-row
    # totals broadcast — never the data
    "profile_join_cardinality": (["HashAggregate"], []),
    # combiner-reduced groupBy over (id, component) longs
    "dedup_cluster_report": (["HashAggregate", "Scan ExistingRDD"], []),
    # per-class hash-rank window + a one-row min-count broadcast
    "sample_class_balanced": (["Window", "HashAggregate"], ["SortMergeJoin"]),
    # hash_split of the component id: pure narrow projection over the
    # labeling (its own joins are the components plumbing)
    "sample_leakage_safe_splits": (["Scan ExistingRDD"], ["Window"]),
    # clip bounds are literals from the histogram passes; the report is
    # one aggregate — no sort, no window
    "stats_winsorize": (["HashAggregate"], ["Window", "SortMergeJoin"]),
    # decile buckets are a narrow projection; one combiner-reduced
    # groupBy over ≤ 10 keys
    "eval_calibration": (["HashAggregate"], ["Window", "SortMergeJoin"]),
    # one combiner-reduced groupBy; the 1-row weight total is the
    # standard broadcast cross (the only nested loop); everything after is
    # integral DIV projections
    "sample_mixture_weights": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["SortMergeJoin", "Window"],
    ),
    # token arrays bind once per n; gram aggregations are combiner-reduced
    # (doc, gram) counts re-aggregated to one row per doc before the joins
    "text_repetition": (["HashAggregate", "codegen id"], ["Window"]),
    # one cell-count aggregation; per-class totals derive from the cells
    # (broadcast-joined back), never a second corpus scan
    "eval_confusion": (["HashAggregate"], []),
    # rarest-prefix candidate equi-join on shingle + id-keyed array fetch;
    # verification is array_intersect in codegen, no nested loop
    "dedup_containment": (["HashAggregate", "codegen id"], []),
    # the DEFAULT hot-shingle-capped containment path — same prefix/
    # verify shape with the kept-token filter joins added
    "dedup_containment_capped": (["HashAggregate", "codegen id"], []),
    # cross-file referential checks — distinct-id anti-joins + one
    # findings union; data rows never join
    "bundle_cross_checks": (["HashAggregate", "Union"], []),
    # URL canonicalization is a narrow projection (parse_url + array
    # ops); the only exchange is the canonical-key dedup groupBy
    "dedup_url_canonical": (["HashAggregate"], ["SortMergeJoin"]),
    # capped path: candidate equi-join on kept terms + full-vector verify
    # joins — all hash joins, integer gate in codegen
    "text_cosine_capped": (["HashAggregate", "codegen id"], []),
    # one Arrow NFC stage + an id equi-join back to the source lengths
    "text_nfc_normalize": (["MapInPandas"], ["Window"]),
    # results x relevance equi-join + one min agg per query; the one
    # BroadcastNestedLoopJoin is the nested brute-force scorer's
    # deliberate broadcast cross (same allowance as sim_topk_bruteforce)
    "eval_mrr": (["HashAggregate", "BroadcastNestedLoopJoin"], []),
    # neighbor-keyed candidate self-join over id longs, one (u,v) count
    # agg, anti-join vs existing edges, TakeOrdered top-k — no full sort
    "graph_link_prediction": (["HashAggregate", "TakeOrderedAndProject"], []),
    # narrow hash projection + one (group, hash) distinct + bottom-k
    # window over per-group distinct hashes; only longs shuffle
    "sketch_kmv_distinct": (["HashAggregate", "Window"], ["SortMergeJoin"]),
    # narrow regex extracts + ONE combiner-reduced (kind, value) agg;
    # the shuffle carries distinct PII values with counts, never documents
    "curation_pii_pseudonyms": (
        ["HashAggregate", "codegen id"],
        ["SortMergeJoin", "Window"],
    ),
    # three Arrow stages (netpbm encode, nearest-neighbour resize, decode)
    # over narrow id rows; payload never shuffles
    "multimodal_image_resize": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # PNG encode->decode round trip; payload stays inside the two
    # Arrow stages, nothing shuffles
    "multimodal_png_roundtrip": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # two Arrow stages (RIFF encode, wave decode) over narrow id rows;
    # payload never shuffles — features explode after the decode
    "multimodal_wav_roundtrip": (
        ["MapInPandas", "Generate"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # container-metadata audit — two Arrow stages (encode, bitstream
    # parse); payload dropped at the parse stage, nothing shuffles
    "multimodal_container_metadata": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # k-anonymity audit — ONE map-side-combined groupBy; only quasi
    # tuples + counts shuffle
    "curation_k_anonymity": (["HashAggregate", "codegen id"], ["SortMergeJoin", "Window"]),
    # meta ↔ bundle consistency — KB-sized descriptor tables; every
    # membership check is a broadcast LeftAnti; the canonical-study-id
    # deviant count is a min-struct aggregate, so NO nested loop at all
    "meta_consistency": (["BroadcastHashJoin", "LeftAnti"], ["SortMergeJoin"]),
    # concat-and-chunk packing — two-phase cumsum (bucket window +
    # literal-map offsets) then sequence/explode; no offsets join and
    # no unpartitioned window anywhere
    "sample_pack_sequences": (["Generate", "Window"], ["SortMergeJoin"]),
    # melt + ONE combiner-reduced count agg + min-struct argmax; shuffled
    # rows are counts, never the source records
    "entity_golden_record": (["HashAggregate", "codegen id"], ["Window"]),
    # ONE aggregate pass over the clinical frame; findings explode from a
    # 1-row aggregate — no joins at all
    "clinical_field_conformance": (["HashAggregate"], ["SortMergeJoin", "Window"]),
    # ISO-BMFF demux — two Arrow stages (encode, sample-table expand);
    # per-sample rows come out, payload bytes never shuffle
    "multimodal_mp4_samples": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # MP3 frame index — same two-Arrow-stage shape as the mp4 demux
    "multimodal_mp3_frames": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # WAV DSP features — encode + decode Arrow stages, no shuffle
    "multimodal_audio_features": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # G.711 companded decode — encode + decode Arrow stages, no shuffle
    "multimodal_g711_stats": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # GIF LZW roundtrip — encode + decode Arrow stages, no shuffle
    "multimodal_gif_roundtrip": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # keyframe byte-range rollup — demux stage + ONE combiner-reduced
    # groupBy on media_id; only sample-table rows shuffle, never payloads
    "multimodal_keyframe_ranges": (
        ["MapInPandas", "HashAggregate"],
        ["SortMergeJoin", "Window"],
    ),
    # header-tier validator — ONE aggregate pass over KB-sized
    # attribute rows; findings explode from a 1-row aggregate
    "header_conformance": (["HashAggregate"], ["SortMergeJoin", "Window"]),
    # paragraph dedup — winner pick is a Window over the paragraph
    # hash (one text shuffle), reassembly one groupBy; NO self-join
    "dedup_paragraphs": (["Window", "HashAggregate", "Generate"], ["SortMergeJoin"]),
    # dHash dedup — encode+hash Arrow stages, ONE groupBy on the
    # 64-bit sketch halves; pixels never shuffle
    "multimodal_image_dhash": (["MapInPandas", "HashAggregate"], ["SortMergeJoin"]),
    # energy VAD — synth+segment Arrow stages, no shuffle at all
    "multimodal_vad_segments": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # ZIP64 member index — same no-shuffle Arrow-stage shape as the
    # 32-bit zip index; the sentinel routing is parser-internal
    "multimodal_zip64_index": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # word-mode containment (exact=True) — hash-first postings, window
    # positions, candidate-only string verify; no nested loop
    "dedup_containment_word": (["HashAggregate", "Window", "codegen id"], []),
    # ZIP member index — encode + central-directory-walk Arrow stages,
    # archive bytes never shuffle
    "multimodal_zip_index": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # BMP roundtrip — encode + decode Arrow stages, no shuffle
    "multimodal_bmp_roundtrip": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # WebDataset tar-shard index — encode + header-walk Arrow stages,
    # shard bytes never shuffle
    "multimodal_webdataset_index": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # ID3v2 catalog extraction — encode + parse Arrow stages, no shuffle
    "multimodal_id3_tags": (
        ["MapInPandas"],
        ["SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # stupid-backoff trigram LM — count-table builds are combiner
    # reduced; event↔model joins are vocab-keyed (AQE broadcasts when
    # small at this sf); only the scalar corpus total crossJoins, as a
    # broadcast single row
    "text_trigram_backoff": (["HashAggregate", "Generate"], []),
}

_QUERIES = entrymod.queries()


def _holds(plan: str, pattern: str) -> bool:
    if pattern.startswith("re:"):
        return re.search(pattern[3:], plan) is not None
    return any(p in plan for p in pattern.split("|"))


def _static_plan(df) -> str:
    """``df``'s formatted plan with adaptive execution off, on a fresh
    query execution (``df``'s own has planned already); the session's
    setting is restored after."""
    conf = df.sparkSession.conf
    adaptive = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        return formatted_plan(df.select("*"))
    finally:
        conf.set("spark.sql.adaptive.enabled", adaptive)


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_registry_query_plan_is_scale_safe(spark, name):
    df = _QUERIES[name](spark, SF_DIR)
    assert_scale_safe(df, allow_nested_loop=name in ALLOW_NESTED_LOOP)
    # r10: ZERO single-partition windows registry-wide, no exceptions —
    # the last five (ks ECDF, logrank risk sets, time-to-convert ranks,
    # key-skew rank, moving-avg RANGE frame) were rewritten onto bucketed
    # running sums / TakeOrdered literal ranks / explode-contribution
    bad = unpartitioned_windows(df)
    assert not bad, f"single-partition window(s) in {name}: {bad}"
    if name in PLAN_SHAPES:
        must, must_not = PLAN_SHAPES[name]
        plan = _static_plan(df)
        missing = [p for p in must if not _holds(plan, p)]
        forbidden = [p for p in must_not if _holds(plan, p)]
        assert not (missing or forbidden), (
            f"{name}: missing {missing}, forbidden {forbidden}\n{plan}"
        )


def test_plan_shapes_name_registered_queries():
    assert sorted(set(PLAN_SHAPES) - set(_QUERIES)) == []


def test_every_oracle_has_a_registered_query():
    """An oracle_sql() entry without a queries() twin is dead weight the
    driver never compares — catches forgotten registrations (graph_ppr
    slipped through exactly this way in round 4)."""
    orphans = set(entrymod.oracle_sql()) - set(_QUERIES)
    assert not orphans, f"oracle_sql keys with no queries() entry: {sorted(orphans)}"
