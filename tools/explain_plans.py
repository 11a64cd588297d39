"""Physical-plan evidence: capture explain('formatted') for headline queries,
assert the plan properties that matter at 100 TB, and write PLANS.md.

Checks per query (configurable below):
- expected operators present (e.g. BroadcastHashJoin for dimension joins);
- no accidental CartesianProduct / BroadcastNestedLoopJoin (only the
  brute-force similarity scorer is allowed one — it IS a deliberate
  broadcast cross join);
- parquet scans carry PushedFilters / pruned ReadSchema where the query
  filters or projects;
- WholeStageCodegen spans exist (expressions stayed JVM-side).

Usage: python tools/explain_plans.py [sf_dir]   (writes PLANS.md)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod  # noqa: E402
from iatlas_cbioportal_export_spark import get_spark  # noqa: E402

# query -> (must_contain, must_not_contain)
EXPECTATIONS: dict[str, tuple[list[str], list[str]]] = {
    "flagship_case_lists": (
        ["BroadcastHashJoin", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "clinical_e2e_preprocess": (
        ["BroadcastHashJoin", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "tpch_q1_pricing_summary": (
        ["codegen id", "PushedFilters: [IsNotNull(l_shipdate)"],
        ["Exchange hashpartitioning(l_orderkey"],  # q1 must not shuffle on orderkey
    ),
    "tpch_q3_shipping_priority": (
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull"],
        ["CartesianProduct"],
    ),
    "tpch_q4_order_priority": (
        ["LeftSemi", "PushedFilters: [IsNotNull(o_orderdate)"],
        ["CartesianProduct"],
    ),
    "tpch_q5_local_supplier": (
        ["BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "tpch_q6_forecast_revenue": (
        ["PushedFilters: [IsNotNull(l_shipdate)"],
        ["Exchange hashpartitioning"],
    ),
    # q2: correlated-min subquery → aggregate re-joined to per-part min;
    # all dims broadcast, no nested loop anywhere
    "tpch_q2_min_cost_supplier": (
        ["BroadcastHashJoin", "LeftSemi"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # q11: HAVING-over-scalar-subquery must plan as a one-row broadcast join,
    # not a cartesian of the per-part aggregate with the total
    "tpch_q11_important_parts": (
        ["BroadcastNestedLoopJoin|BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # q17: correlated per-part AVG → broadcast join back, single lineitem scan
    # family (semi + agg), no shuffle of the unfiltered fact
    "tpch_q17_small_qty_revenue": (
        ["BroadcastHashJoin", "LeftSemi"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # q19: OR-of-ANDs must stay a broadcast equi-join with the disjunction as
    # a post-join filter — never a nested loop
    "tpch_q19_brand_bands": (
        ["BroadcastHashJoin", "PushedFilters: [IsNotNull"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # q21: the EXISTS/NOT-EXISTS pair compiles to ONE per-order aggregate +
    # semi-joins — no correlated re-scans, no nested loop
    "tpch_q21_waiting_suppliers": (
        ["LeftSemi", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "j1_broadcast_left_join": (
        ["BroadcastHashJoin", "ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"],
        ["SortMergeJoin", "CartesianProduct"],
    ),
    "j5_semi_join": (["LeftSemi"], ["CartesianProduct"]),
    "asof_join_last_purchase": (
        ["Window"], ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # the whole point: the interval predicate must NOT plan as a nested loop
    "range_join_qty_size": (
        ["Generate", "BroadcastHashJoin"], ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "a8_keep_latest": (["Window", "row_number"], ["CartesianProduct"]),
    "window_topk_per_group": (["Window", "rank"], ["CartesianProduct"]),
    # rollup = ONE Expand + ONE aggregate — not a shuffle per grouping level
    "rollup_revenue": (["Expand", "HashAggregate"], ["CartesianProduct"]),
    "cube_revenue": (["Expand", "HashAggregate"], ["CartesianProduct"]),
    # r10: explode-contribution reshuffle — each day's total fans out to
    # its N target days (Generate), target sums are a keyed groupBy, and
    # the join back to the daily frame keeps existing days; NO window at
    # all (the old RANGE frame was the last deliberate single-partition op)
    "window_moving_avg": (
        ["Generate", "HashAggregate"],
        ["CartesianProduct", "Window"],
    ),
    "percentiles_by_segment": (["Window", "row_number"], ["CartesianProduct"]),
    # interval predicate must ride the user_id equi-join, never a nested loop
    "events_attribution": (
        ["SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "dedup_minhash_lsh": ([], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "dedup_exact": (["HashAggregate"], ["Exchange rangepartitioning"]),
    "sim_topk_bruteforce": (
        # deliberate broadcast cross join for scoring; the MapInPandas stage
        # is the per-partition partial top-k that keeps the |Q|x|C| scored
        # triples OUT of the final per-query window exchange
        ["BroadcastNestedLoopJoin", "MapInPandas"],
        ["CartesianProduct"],
    ),
    "sim_ann_lsh": (["BroadcastHashJoin"], ["CartesianProduct"]),
    # near-dup candidates join on (id, signature) only; vectors come back via
    # semi-join, so the bucket exchange never carries embedding arrays
    "embedding_near_dup": (
        ["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "maf_annotate_pipeline": (["MapInPandas", "ArrowEvalPython|MapInPandas"], []),
    # the error side-band is a filter over the same mapInPandas stage —
    # no extra scan, no join
    "maf_error_report": (
        ["MapInPandas"], ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # %.12g rendering is a NARROW Arrow-batched projection — a shuffle
    # here would mean the formatter moved data to format it
    "s5_float_g_format": (["ArrowEvalPython"], ["Exchange"]),
    # top-k over the n-gram dictionary must be heap-based, never a full sort
    "text_top_ngrams": (["TakeOrderedAndProject"], ["CartesianProduct"]),
    # dedup stage joins keepers back by semi-join; no fact-side blowup
    "curation_pipeline": (["LeftSemi"], ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    "text_tfidf": (["HashAggregate", "Window"], ["CartesianProduct"]),
    # quantization encodes and hash-sampling are NARROW maps/filters — a
    # shuffle anywhere in these plans is a design regression
    "sim_quantize_codes": (["Scan parquet"], ["Exchange"]),
    "sim_pq_codes": (["Scan parquet"], ["Exchange"]),
    "data_splits": (["Scan parquet"], ["CartesianProduct"]),
    "source_mixture": (["Scan parquet", "PushedFilters"], ["Exchange"]),
    "text_chunking": (["Generate", "Scan parquet"], ["Exchange"]),
    "text_token_stats": (["Scan parquet"], ["Exchange"]),  # narrow: no shuffle, lambda exprs eval JVM-side (no codegen, by design)
    "events_sessionize": (["Window"], ["CartesianProduct"]),
    # narrow curation passes: pure per-row maps — no shuffle anywhere
    "pii_redaction": (["codegen id"], ["Exchange"]),
    "repetition_removal": (["codegen id"], ["Exchange"]),
    "gopher_quality": (["codegen id"], ["Exchange"]),
    # benchmark n-gram set broadcasts (the gram join must NOT sort-merge);
    # the zero-hit restore join is left to AQE — its size is runtime data
    "decontamination": (
        [r"re:BroadcastHashJoin[^\n]*\nLeft keys \[1\]: \[gram"],
        ["CartesianProduct", r"re:SortMergeJoin[^\n]*\nLeft keys \[1\]: \[gram"],
    ),
    "text_normalize": (["codegen id"], ["Exchange"]),
    # one shuffle (hash by stratum) feeding the window — and nothing else
    "sequence_packing": (
        ["Window", "re:Arguments: hashpartitioning\\(stratum"],
        ["CartesianProduct"],
    ),
    "emb_l2_normalize": (["codegen id"], ["Exchange"]),
    "emb_mean_pool": (["HashAggregate"], ["CartesianProduct"]),
    # batch×corpus band join: equi-join on (band_id, band_hash), no
    # all-pairs anywhere
    "dedup_cross_corpus": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # distinct keys through the Python stage, join fan-out back
    "maf_annotate_by_variant": (
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # narrow: the whole tokenize→bucket→normalize fold is one projection
    "text_hashed_embedding": (["Generate"], ["Exchange"]),
    # sliding windows expand map-side (Expand/Generate), one aggregation
    "events_sliding_counts": (["Expand|Generate", "HashAggregate"], ["CartesianProduct"]),
    # stream-static enrichment: dimension broadcasts, fact never shuffles
    # for the join (the agg shuffle is the only exchange)
    "stream_enriched_counts": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "events_incremental_rollup": (["Union", "HashAggregate"], ["CartesianProduct"]),
    # vocab join stays an equi-join; the one-row total broadcasts
    "text_unigram_logprob": (
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    "text_length_histogram": (["HashAggregate"], ["CartesianProduct", "SortMergeJoin"]),
    # window dedup: only (id, hash) longs through the wide stages; the text
    # column must never reach an Exchange (scan → project → explode)
    "dedup_span_windows": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # the whole point: edit-distance matching WITHOUT the |L|x|R| product
    "fuzzy_join_names": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # K=4 rounds NESTED into one plan (_PR_CHECKPOINT_INTERVAL=4, measured 2.6×
    # vs per-round truncation): the visible tree carries the per-round
    # equi-joins over the checkpointed edge/node state (Scan ExistingRDD) —
    # equi-joins only, never a nested loop
    "graph_pagerank": (
        ["Scan ExistingRDD", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "text_bpe_train": (
        ["Scan ExistingRDD", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # apply side is 100% narrow: no exchange at all before the final project
    "text_bpe_segment": (["codegen id"], ["Exchange", "CartesianProduct"]),
    "events_retention": (["HashAggregate"], ["CartesianProduct"]),
    # equality on user_id keeps the interval residual out of the join
    # strategy: hash join, never a nested loop
    "events_attribution_outer": (
        ["BroadcastHashJoin LeftOuter|SortMergeJoin LeftOuter"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # every ranking function shares ONE Window node / one exchange+sort:
    # all six functions appear in the single node's argument list, and a
    # second Window header must not exist
    "window_rank_suite": (
        [
            "re:Arguments: \\[rank\\(.*dense_rank\\(.*percent_rank\\("
            ".*cume_dist\\(.*ntile\\(",
        ],
        ["CartesianProduct", "re:\\(\\d+\\) Window(.|\\n)*\\(\\d+\\) Window"],
    ),
    # boundaries are literals by query time: assignment is a narrow CASE,
    # the only exchange is the 4-bucket aggregate's
    "equi_depth_bins": (
        ["HashAggregate"],
        ["CartesianProduct", "Sort ", "Window"],
    ),
    "lpm_join_categories": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # pair expansion narrow; shuffles are count aggregates; top-N is a heap
    # (the totals crossJoin is the declared one-row broadcast — see
    # test_registry_lint.ALLOW_NESTED_LOOP)
    "text_cooccurrence_pmi": (
        ["TakeOrderedAndProject", "HashAggregate"],
        ["CartesianProduct"],
    ),
    # grid-cell bucketing keeps the overlap join on the hash-equi path
    "events_interval_overlap": (
        ["HashAggregate|SortMergeJoin|ShuffledHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "clinical_kaplan_meier": (
        ["Window", "HashAggregate"],
        ["CartesianProduct"],
    ),
    "clinical_logrank": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # r10: gene ranking runs EAGERLY at construction (TakeOrdered heap,
    # collected, rank stamped driver-side) so the returned plan is the
    # matrix aggregate joined to a literal rank frame — broadcast, no
    # window, no sort
    "maf_oncoprint": (
        ["BroadcastHashJoin", "Scan ExistingRDD", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    "stats_chi_square": (["HashAggregate"], ["CartesianProduct"]),
    "events_streaks": (["Window", "HashAggregate"], ["CartesianProduct"]),
    # ONE aggregate computes all five sums; no window, no second pass
    "stats_linear_trend": (
        ["HashAggregate"],
        ["CartesianProduct", "Window", "BroadcastNestedLoopJoin"],
    ),
    "stats_psi_drift": (["HashAggregate"], ["CartesianProduct"]),
    "stats_ks_test": (["Window", "HashAggregate"], ["CartesianProduct"]),
    "maf_gene_cooccurrence": (
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    # series collect is per-key ObjectHashAggregate; fold is narrow
    "events_exp_smoothing": (
        ["ObjectHashAggregate|SortAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "events_transition_matrix": (
        ["Window", "HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # entirely narrow until the posexplode projection
    "emb_random_projection": (
        ["posexplode"],
        ["Exchange", "CartesianProduct"],
    ),
    # wedge + closing joins stay hash joins on rank-encoded longs
    "graph_triangles": (
        ["Scan ExistingRDD"],
        ["CartesianProduct"],
    ),
    "dedup_jaccard_prefix": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # per-user pair join + broadcast totals + top-N heap
    "sim_item_cf": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    "sim_association_rules": (
        ["TakeOrderedAndProject", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    # final state is the round-3 checkpoint union — LogicalRDD scans only
    "graph_bfs": (["Scan ExistingRDD"], ["CartesianProduct"]),
    "events_seasonal_residuals": (
        ["HashAggregate", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    "stats_mad_outliers": (
        ["Window", "BroadcastHashJoin"],
        ["CartesianProduct"],
    ),
    "graph_label_propagation": (
        ["Scan ExistingRDD"],
        ["CartesianProduct"],
    ),
    "stats_mutual_information": (["HashAggregate"], ["CartesianProduct"]),
    "events_time_to_convert": (
        ["HashAggregate", "Window"],
        ["CartesianProduct"],
    ),
    # entirely narrow: split/filter/fold per row, no exchange before the agg
    "text_char_entropy": (["codegen id"], ["Exchange", "CartesianProduct"]),
    # r10: the groupBy/totals/TakeOrdered all run EAGERLY at construction
    # and the ≤k ranked rows come back as a literal frame — the returned
    # plan is a pure LocalTableScan (rank stamped driver-side, no window)
    "profile_key_skew": (
        ["Scan ExistingRDD"],
        ["CartesianProduct", "SortMergeJoin", "Window", "Exchange"],
    ),
    # reads back the COMPACTED files; one aggregate, no joins at all
    "layout_compaction": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # the deliberate broadcast cross join of the exact path (same contract as
    # sim_topk_bruteforce) + the no-shuffle partial top-k mapInPandas stage
    "sim_mips_topk": (
        ["BroadcastNestedLoopJoin", "ArrowEvalPython|MapInPandas"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # one token-dictionary aggregate serves every fraction; the two 1-row
    # aggregates meet in a broadcast nested-loop (1x1 rows - bounded)
    "text_vocab_growth": (
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # register build is one map-side-combined groupBy (≤ groups·m rows
    # shuffle); the sketch↔exact meet is a small broadcast join
    "sketch_hll_distinct": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # fact side is NARROW (literal bitmask test — no shuffle, no fact-side
    # sort); the truth twin is a broadcast join against the KB dim keyset
    "sketch_bloom_prefilter": (
        ["BroadcastHashJoin", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # register algebra over m-row tables; the 1-row est×exact meet is a
    # broadcast nested-loop by construction (1x1 rows — bounded)
    "sketch_hll_set_ops": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # --- round 4 ---
    # XML scan + declared schema: a plain distributed scan, no joins
    "xml_roundtrip": (
        ["Scan"],
        ["CartesianProduct", "SortMergeJoin", "Exchange hashpartitioning"],
    ),
    # one map-side-combined scan of the clustered table builds the whole
    # report; no joins touch the data
    "zonemap_pruning": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # MG partials via mapInPandas (k-bounded rows per task); the summary
    # joins the heavy set broadcast — candidates never shuffle
    "sketch_heavy_hitters": (
        ["MapInPandas", "BroadcastHashJoin"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # (id, term) pairs and postings are the only shuffles; df gate joins the
    # combiner-reduced term counts (broadcast or shuffled-hash, never a
    # cartesian)
    "text_inverted_index": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # 100% narrow: one projection over the scan, zero exchanges
    "text_quality_classifier": (
        ["codegen id"],
        [
            "CartesianProduct",
            "SortMergeJoin",
            "BroadcastHashJoin",
            "Exchange hashpartitioning",
        ],
    ),
    # two aggregations, both map-side combined; nothing but (group, word)
    # masks ever shuffles
    "sketch_bitmap_distinct": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # ONE full-outer equi-join decides every label; no nested loop
    "snapshot_diff": (
        ["FullOuter", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # grid from a 1-row broadcast span (bounded BNLJ by construction);
    # obs groupBy map-side combined; fill window over panel-sized data
    "events_resample_ffill": (
        ["HashAggregate", "Window"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # two generations as one mergeSchema scan — a plain union of file
    # splits, no joins
    "parquet_schema_evolution": (
        ["Scan parquet"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # whole-file binary rows joined to the 60-row doc slice (broadcast)
    "multimodal_binary_ingest": (
        ["BroadcastHashJoin"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # same nested shape as graph_pagerank + the top-200 TakeOrdered
    "graph_ppr": (
        ["Scan ExistingRDD", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # dense bounded slice → block-GEMM Arrow kernel (one collect-guarded
    # scan + MapInPandas); exactness comes from integer math, not a
    # nested loop. The sparse/unbounded exact path is the postings join.
    "text_cosine_pairs": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # two-phase running sum: corpus window is PARTITIONED (by bucket); the
    # bucket offsets are a driver-side prefix sum stamped back as a literal
    # map (r9) — NO offsets join and NO unpartitioned window in the plan
    "running_revenue": (
        ["Window", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # salted fact side joins the 16x-replicated dim on (key, salt)
    "salted_skew_join": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # nested integer rounds like pagerank; the only nested loops are the
    # one-row L1-total broadcasts, and the big node-state equi-joins may
    # legitimately sort-merge (both sides grow with the graph)
    "graph_hits": (
        ["Scan ExistingRDD", "TakeOrderedAndProject"],
        ["CartesianProduct"],
    ),
    # train counts + tf are map-side combined; trained-likelihood join is
    # a plain equi-join on (tok,label); the k-row class table broadcasts
    "text_naive_bayes": (
        ["HashAggregate", "BroadcastHashJoin", "Window"],
        ["CartesianProduct"],
    ),
    # ONE scan: all statistics ride a single aggregate (the multi-distinct
    # Expand shares that scan — a SortAggregate here: the first()-carried
    # stats aren't hash-agg-supported); no joins at all
    "profile_table": (
        ["Expand", "Aggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # frontier-optimized Bellman-Ford: per-round equi-joins over
    # checkpointed state; no nested loops anywhere
    "graph_sssp": (
        ["Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # blocked equi-join on (nationkey, blk); scoring is a pure projection
    # (u-probs baked as literals) — no per-pair aggregation
    "entity_fs_linkage": (
        ["codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # ten normal-equation sums in ONE map-side-combined aggregate; Cramer
    # algebra is a literal projection
    "stats_ols_multi": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # corpus touched once (cell assignment + count); cluster merge runs on
    # the checkpointed cell graph; border attach joins cells, not points
    "sim_grid_dbscan": (
        ["HashAggregate", "Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # corpus branch is ONE narrow Arrow encode to (id, cell, codes) —
    # mapInPandas kernels replaced the literal-codebook Catalyst
    # expressions (round 5: expression compile dominated the wall); probes
    # still broadcast into an equi-join, ADC scoring is the second Arrow
    # stage
    "sim_ivfpq_topk": (
        ["BroadcastHashJoin", "Window", "MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # distinct-score count table is the only windowed state; the corpus
    # pass is the classifier's narrow projection + one groupBy
    "eval_auc": (
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # one map-side-combined groupBy + TakeOrdered heap
    "stream_topk_snapshot": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # the whole matrix rides one fused aggregate on user_id
    "events_feature_matrix": (
        ["HashAggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin"],
    ),
    # all moments in ONE aggregate; the cell table is an exploded literal
    "stats_covariance_matrix": (
        ["Aggregate"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
         "Exchange hashpartitioning"],
    ),
    # two key histograms + a histogram-sized equi-join; the one-row
    # totals broadcast — never the data
    "profile_join_cardinality": (
        ["HashAggregate"],
        ["CartesianProduct"],
    ),
    # combiner-reduced groupBy over (id, component) longs
    "dedup_cluster_report": (
        ["HashAggregate", "Scan ExistingRDD"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # per-class hash-rank window + a one-row min-count broadcast
    "sample_class_balanced": (
        ["Window", "HashAggregate"],
        ["CartesianProduct", "SortMergeJoin"],
    ),
    # hash_split of the component id: pure narrow projection over the
    # labeling (its own joins are the components plumbing)
    "sample_leakage_safe_splits": (
        ["Scan ExistingRDD"],
        ["CartesianProduct", "Window"],
    ),
    # clip bounds are literals from the histogram passes; the report is
    # one aggregate — no sort, no window
    "stats_winsorize": (
        ["HashAggregate"],
        ["CartesianProduct", "Window", "SortMergeJoin"],
    ),
    # decile buckets are a narrow projection; one combiner-reduced
    # groupBy over ≤ 10 keys
    "eval_calibration": (
        ["HashAggregate"],
        ["CartesianProduct", "Window", "SortMergeJoin"],
    ),
    # round 5: one combiner-reduced groupBy; the 1-row weight total is the
    # standard broadcast cross (the only nested loop); everything after is
    # integral DIV projections
    "sample_mixture_weights": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct", "SortMergeJoin", "Window"],
    ),
    # token arrays bind once per n; gram aggregations are combiner-reduced
    # (doc, gram) counts re-aggregated to one row per doc before the joins
    "text_repetition": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # one cell-count aggregation; per-class totals derive from the cells
    # (broadcast-joined back), never a second corpus scan
    "eval_confusion": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # rarest-prefix candidate equi-join on shingle + id-keyed array fetch;
    # verification is array_intersect in codegen, no nested loop
    "dedup_containment": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r6: the DEFAULT hot-shingle-capped containment path — same prefix/
    # verify shape with the kept-token filter joins added
    "dedup_containment_capped": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r6: cross-file referential checks — distinct-id anti-joins + one
    # findings union; data rows never join
    "bundle_cross_checks": (
        ["HashAggregate", "Union"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r6: URL canonicalization is a narrow projection (parse_url + array
    # ops); the only exchange is the canonical-key dedup groupBy
    "dedup_url_canonical": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # capped path: candidate equi-join on kept terms + full-vector verify
    # joins — all hash joins, integer gate in codegen
    "text_cosine_capped": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # one Arrow NFC stage + an id equi-join back to the source lengths
    "text_nfc_normalize": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # results x relevance equi-join + one min agg per query; the heavy
    # part is the nested brute-force scorer (its own plan contract)
    # the one BroadcastNestedLoopJoin is the nested brute-force scorer's
    # deliberate broadcast cross (same allowance as sim_topk_bruteforce)
    "eval_mrr": (
        ["HashAggregate", "BroadcastNestedLoopJoin"],
        ["CartesianProduct"],
    ),
    # neighbor-keyed candidate self-join over id longs, one (u,v) count
    # agg, anti-join vs existing edges, TakeOrdered top-k — no full sort
    "graph_link_prediction": (
        ["HashAggregate", "TakeOrderedAndProject"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # narrow hash projection + one (group, hash) distinct + bottom-k
    # window over per-group distinct hashes; only longs shuffle
    "sketch_kmv_distinct": (
        ["HashAggregate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # narrow regex extracts + ONE combiner-reduced (kind, value) agg;
    # the shuffle carries distinct PII values with counts, never documents
    "curation_pii_pseudonyms": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    # three Arrow stages (netpbm encode, nearest-neighbour resize, decode)
    # over narrow id rows; payload never shuffles
    "multimodal_image_resize": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # two Arrow stages (RIFF encode, wave decode) over narrow id rows;
    # payload never shuffles — features explode after the decode
    # r6: PNG encode->decode round trip; payload stays inside the two
    # Arrow stages, nothing shuffles
    "multimodal_png_roundtrip": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    "multimodal_wav_roundtrip": (
        ["MapInPandas", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r6: container-metadata audit — two Arrow stages (encode, bitstream
    # parse); payload dropped at the parse stage, nothing shuffles
    "multimodal_container_metadata": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r6: k-anonymity audit — ONE map-side-combined groupBy; only quasi
    # tuples + counts shuffle
    "curation_k_anonymity": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    # r6: meta ↔ bundle consistency — KB-sized descriptor tables; every
    # membership check is a broadcast LeftAnti; the canonical-study-id
    # deviant count is a min-struct aggregate, so NO nested loop at all
    "meta_consistency": (
        ["BroadcastHashJoin", "LeftAnti"],
        ["CartesianProduct", "SortMergeJoin", "BroadcastNestedLoopJoin"],
    ),
    # r6: concat-and-chunk packing — two-phase cumsum (bucket window +
    # literal-map offsets, r9) then sequence/explode; no offsets join and
    # no unpartitioned window anywhere
    "sample_pack_sequences": (
        ["Generate", "Window"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # melt + ONE combiner-reduced count agg + min-struct argmax; shuffled
    # rows are counts, never the source records
    "entity_golden_record": (
        ["HashAggregate", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "Window"],
    ),
    # ONE aggregate pass over the clinical frame; findings explode from a
    # 1-row aggregate — no joins at all
    "clinical_field_conformance": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    # r7: ISO-BMFF demux — two Arrow stages (encode, sample-table expand);
    # per-sample rows come out, payload bytes never shuffle
    "multimodal_mp4_samples": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: MP3 frame index — same two-Arrow-stage shape as the mp4 demux
    "multimodal_mp3_frames": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: WAV DSP features — encode + decode Arrow stages, no shuffle
    "multimodal_audio_features": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: G.711 companded decode — encode + decode Arrow stages, no shuffle
    "multimodal_g711_stats": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: GIF LZW roundtrip — encode + decode Arrow stages, no shuffle
    "multimodal_gif_roundtrip": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: keyframe byte-range rollup — demux stage + ONE combiner-reduced
    # groupBy on media_id; only sample-table rows shuffle, never payloads
    "multimodal_keyframe_ranges": (
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    # r7: header-tier validator — ONE aggregate pass over KB-sized
    # attribute rows; findings explode from a 1-row aggregate
    "header_conformance": (
        ["HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Window"],
    ),
    # r7: paragraph dedup — winner pick is a Window over the paragraph
    # hash (one text shuffle), reassembly one groupBy; NO self-join
    "dedup_paragraphs": (
        ["Window", "HashAggregate", "Generate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # r8: dHash dedup — encode+hash Arrow stages, ONE groupBy on the
    # 64-bit sketch halves; pixels never shuffle
    "multimodal_image_dhash": (
        ["MapInPandas", "HashAggregate"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"],
    ),
    # r8: energy VAD — synth+segment Arrow stages, no shuffle at all
    "multimodal_vad_segments": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r8: ZIP64 member index — same no-shuffle Arrow-stage shape as the
    # 32-bit zip index; the sentinel routing is parser-internal
    "multimodal_zip64_index": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r8: word-mode containment (exact=True) — hash-first postings, window
    # positions, candidate-only string verify; no nested loop
    "dedup_containment_word": (
        ["HashAggregate", "Window", "codegen id"],
        ["CartesianProduct", "BroadcastNestedLoopJoin"],
    ),
    # r7: ZIP member index — encode + central-directory-walk Arrow stages,
    # archive bytes never shuffle
    "multimodal_zip_index": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: BMP roundtrip — encode + decode Arrow stages, no shuffle
    "multimodal_bmp_roundtrip": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: WebDataset tar-shard index — encode + header-walk Arrow stages,
    # shard bytes never shuffle
    "multimodal_webdataset_index": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: ID3v2 catalog extraction — encode + parse Arrow stages, no shuffle
    "multimodal_id3_tags": (
        ["MapInPandas"],
        ["CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin",
         "Exchange hashpartitioning"],
    ),
    # r7: stupid-backoff trigram LM — count-table builds are combiner
    # reduced; event↔model joins are vocab-keyed (AQE broadcasts when
    # small at this sf); only the scalar corpus total crossJoins, as a
    # broadcast single row
    "text_trigram_backoff": (
        ["HashAggregate", "Generate"],
        ["CartesianProduct"],
    ),
}

SCAN_LINE = re.compile(r"PushedFilters: \[[^\]]*\]|ReadSchema: [^\n]*")


def explain_str(df, mode: str = "formatted") -> str:
    qe = df._jdf.queryExecution()
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return qe.explainString(jmode)


def check(plan: str, pattern: str) -> bool:
    if pattern.startswith("re:"):
        return re.search(pattern[3:], plan) is not None
    if "|" in pattern:
        return any(p in plan for p in pattern.split("|"))
    return pattern in plan


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # AQE off for THIS tool only: pre-execution adaptive plans hide codegen
    # annotations; the static plan shows the full operator tree. Production
    # sessions keep AQE on (session.py).
    spark = get_spark("explain-plans", extra_conf={"spark.sql.adaptive.enabled": "false"})
    qs = entrymod.queries()
    failures: list[str] = []
    sections: list[str] = []
    for name, (must, must_not) in EXPECTATIONS.items():
        df = qs[name](spark, sf_dir)
        plan = explain_str(df)
        tree = plan.split("\n\n")[0]
        notes = []
        for pat in must:
            ok = check(plan, pat)
            notes.append(f"- [{'x' if ok else ' '}] requires `{pat}`")
            if not ok:
                failures.append(f"{name}: missing {pat!r}")
        for pat in must_not:
            bad = check(plan, pat)
            notes.append(f"- [{'x' if not bad else ' '}] forbids `{pat}`")
            if bad:
                failures.append(f"{name}: contains forbidden {pat!r}")
        scan_evidence = "\n".join(
            f"    {m.group(0)}" for m in SCAN_LINE.finditer(plan)
        )
        sections.append(
            f"## {name}\n\n" + "\n".join(notes) + "\n\n"
            f"Physical operator tree:\n\n```\n{tree}\n```\n\n"
            + (f"Scan pushdown evidence:\n\n```\n{scan_evidence}\n```\n" if scan_evidence else "")
        )
        print(("OK   " if not any(f.startswith(name) for f in failures) else "FAIL ") + name)

    # --- registry-wide single-partition-window sweep (r10) -----------------
    from iatlas_cbioportal_export_spark.plans.linter import (
        unpartitioned_windows,
    )

    # plan SHAPE is scale-independent; sweep at the smallest sf so queries
    # whose construction runs eager decision scalars stay cheap
    win_sf = "/root/testdata/sf0.001"
    win_bad: dict[str, list[str]] = {}
    for name, fn in qs.items():
        try:
            offending = unpartitioned_windows(fn(spark, win_sf))
        except Exception as ex:  # noqa: BLE001 — report, don't abort the sweep
            offending = [f"(query construction raised: {ex!r})"]
        if offending:
            win_bad[name] = offending
    if win_bad:
        for name, lines in win_bad.items():
            failures.append(f"window-sweep {name}: {lines[0]}")
    sections.append(
        "## no_single_partition_window (registry-wide)\n\n"
        f"Every registry query's OPTIMIZED LOGICAL plan ({len(qs)} queries)\n"
        "checked for `Window` nodes with an empty PARTITION BY — the shape\n"
        "that plans `Exchange SinglePartition` and moves its whole input to\n"
        "one task (`plans/linter.py::unpartitioned_windows`; exact logical-\n"
        "node detection, no physical-plan heuristics). r10 removed the last\n"
        "five (oncoprint gene rank, KS ECDF, log-rank risk sets,\n"
        "time-to-convert percentiles, key-skew rank, daily moving average) —\n"
        "rewritten onto bucketed two-phase running sums, TakeOrdered literal\n"
        "ranks, and explode-contribution reshuffles.\n\n"
        + (
            "**VIOLATIONS:**\n"
            + "\n".join(
                f"- `{n}`: `{v[0]}`" for n, v in sorted(win_bad.items())
            )
            if win_bad
            else f"- [x] 0 single-partition windows across {len(qs)} "
            "registry queries"
        )
        + "\n"
    )
    print(
        ("OK   " if not win_bad else "FAIL ")
        + f"no_single_partition_window ({len(qs)} queries)"
    )

    # --- bucketed co-located join (not a registry query: needs a write) ----
    from iatlas_cbioportal_export_spark.sources.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(orders, "plans_b_orders", ["o_custkey"], 8, ["o_custkey"])
    write_bucketed(customer, "plans_b_customer", ["c_custkey"], 8, ["c_custkey"])
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("plans_b_orders").join(
            spark.table("plans_b_customer"),
            spark.table("plans_b_orders")["o_custkey"]
            == spark.table("plans_b_customer")["c_custkey"],
        )
        plan = explain_str(joined)
        tree = plan.split("\n\n")[0]
        notes = []
        for pat in ["SortMergeJoin", "Bucketed: true"]:
            ok = check(plan, pat)
            notes.append(f"- [{'x' if ok else ' '}] requires `{pat}`")
            if not ok:
                failures.append(f"bucketed_colocated_join: missing {pat!r}")
        for pat in ["Exchange"]:
            bad = check(plan, pat)
            notes.append(f"- [{'x' if not bad else ' '}] forbids `{pat}`")
            if bad:
                failures.append(f"bucketed_colocated_join: contains forbidden {pat!r}")
        sections.append(
            "## bucketed_colocated_join\n\n"
            "Both sides written with `bucketBy(8, custkey)` + `sortBy`\n"
            "(`sources/bucketing.py`): the fact-fact join plans as a\n"
            "zero-Exchange SortMergeJoin — the write-once/join-many shape for\n"
            "repeated joins at 100 TB (broadcast disabled to simulate two\n"
            "large sides).\n\n" + "\n".join(notes) + "\n\n"
            f"Physical operator tree:\n\n```\n{tree}\n```\n"
        )
        print(
            ("OK   " if not any(f.startswith("bucketed_") for f in failures) else "FAIL ")
            + "bucketed_colocated_join"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS plans_b_orders")
        spark.sql("DROP TABLE IF EXISTS plans_b_customer")

    header = (
        "# PLANS — physical-plan evidence for the headline queries\n\n"
        "Generated by `python tools/explain_plans.py` (explain mode: formatted,\n"
        f"data: `{sf_dir}`). Each section lists the plan properties asserted for\n"
        "100 TB readiness — broadcast joins on dimension tables, parquet\n"
        "filter/column pushdown, whole-stage codegen, and the absence of\n"
        "accidental cartesian products — followed by the operator tree.\n\n"
    )
    with open("PLANS.md", "w") as fh:
        fh.write(header + "\n".join(sections))
    if failures:
        print("\nFAILURES:")
        for f in failures:
            print(" -", f)
    else:
        print("\nALL PLAN CHECKS OK — PLANS.md written")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
