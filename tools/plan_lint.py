"""Repo-wide physical-plan lint: every ORACLE-BACKED registered query's
plan is checked for scale-killers, with a documented allowlist for the
queries whose shape is intentional. Run:

    python tools/plan_lint.py            # writes PLAN_LINT.json, exit 1 on new findings
                                         # (exit 2 on errors, file left as it was)

Rules (per query, formatted physical plan at sf0.001):
  R1 cartesian      — CartesianProduct / BroadcastNestedLoopJoin present.
                      Allowed where the operator IS a bounded non-equi
                      pair expansion on a calendar/grain-bounded side
                      (documented in ALLOW_NON_EQUI).
  R2 global-sort    — rangepartitioning( exchange outside the documented
                      global-order operators (top-k uses
                      TakeOrderedAndProject instead, which is fine).
  R4 exchange-storm — more than 12 Exchange nodes (audited-composition
                      queries carry a higher named cap; the rule still
                      fires if they grow 8 past it) — a plan that
                      re-shuffles that often usually lost a shared
                      partitioning somewhere.
  R5 row-udf        — BatchEvalPython present: a row-at-a-time Python
                      UDF in an oracle-backed path (10-100x slower than
                      Arrow-batched pandas UDFs / built-ins; breaks
                      codegen and pushdown). No allowlist: graded paths
                      must stay JVM-side or Arrow-batched
                      (ArrowEvalPython / FlatMapGroupsInPandas /
                      MapInPandas are all fine and not flagged).
  R6 single-part    — an "Exchange SinglePartition" whose subtree
                      contains no aggregate/limit node: the whole
                      non-aggregated input funnels through ONE task
                      (the unpartitioned-Window / global-ntile shape —
                      the classic 100 TB killer). Single-partition
                      stages over AGGREGATED grains (month/bucket/
                      distinct-value frames, KB-sized at any scale)
                      are fine and auto-classified by the
                      aggregate-in-subtree check; the remainder needs
                      an ALLOW_SINGLE_PARTITION entry naming the
                      bounded grain.

  R9 wide-dec-cast  — ANALYZED-plan rule (r13, after the r12 driver
                      divergence): a Cast to DOUBLE whose child is a
                      DECIMAL with precision > 15 (unscaled value can
                      exceed 2^53). The int128->double conversion is
                      BUILD-DEPENDENT (DuckDB's path double-rounds on
                      some builds — the r12 eval_anova/brown_forsythe/
                      theil_u2 driver-red class), so every such
                      conversion must route through the deterministic
                      split in functions/numeric.py (d53/d53s) or
                      narrow the decimal to p<=15 first (exact, with
                      ANSI overflow as the canary) when the value is
                      grain- or math-bounded. Literal children are
                      exempt (compile-time constants fold exactly).
                      No per-query allowlist: graded report paths
                      must be conversion-deterministic.

  R8 ckpt-grain     — SOURCE rule (r12, r11 verdict task 5): every
                      `.localCheckpoint(` call site in the package must
                      carry a `ckpt-grain:` annotation (same line or
                      within 4 lines above) naming why eviction of its
                      blocks cannot be data-scale-fatal:
                        bounded        — frame size is bounded regardless
                                         of input scale (aggregated grain,
                                         top-k, scalar anchors)
                        iterative-loop — loop-carried state where
                                         checkpoint is REQUIRED (persist
                                         keeps lineage; an iterated plan
                                         grows without bound); the
                                         eviction risk is the accepted
                                         price of bounded plans
                        slim-exception — data-proportional but a few
                                         narrow columns (id/key sets),
                                         documented at the site
                      An unannotated site is a finding: the r11 A/B
                      showed a localCheckpoint block evicted under
                      storage pressure KILLS the query ("Block rdd_N
                      does not exist") where persist() recomputes — on
                      a data-proportional frame at 100 TB that is a
                      production outage. Data-proportional shared
                      frames must use persist() (the r11 wave moved 18
                      of them). The unused-annotation audit flags
                      `ckpt-grain:` tags with no call in window (a
                      stale tag is the same blind spot as a dead
                      allowlist entry).

  R10 build-jobs    — JOB rule: the Spark jobs a query fires while its
                      DataFrame is BUILT (before the caller's action),
                      counted through a job group after every TABLES
                      entry was loaded once (so catalog.load's pinned
                      schemas make the count independent of query
                      order). A build job is an eager device: a
                      localCheckpoint, a collect-to-literal, an
                      iterative loop's per-round materialisation. A
                      query above 0 must be in the exact
                      ALLOW_BUILD_JOBS set; an entry at 0 is reported
                      under unused_allowlist["build_jobs"]. The counts
                      are committed as PLAN_LINT.json's build_jobs map
                      (tools/exchange_diff.py prints their changes).

This is the continuous form of the per-query plan audits in
tests/test_plans.py: those pin the headline shapes deeply; this lint
keeps the OTHER ~300 queries from silently regressing into a
scale-killer as they evolve.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import sys

sys.path.insert(0, ".")

from leadsight_sales_agent_spark import registry  # noqa: E402
from leadsight_sales_agent_spark.plans import formatted_plan  # noqa: E402
from leadsight_sales_agent_spark.session import get_spark  # noqa: E402
from leadsight_sales_agent_spark.sources.catalog import TABLES, load  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# R1: operators whose non-equi / nested-loop join is the documented
# algorithm on a bounded grain (month grid, score grain, pair panel...).
# Trimmed in r7 by the allowlist dead-entry audit: 103 entries whose
# plans contain no CartesianProduct/BroadcastNestedLoopJoin at all were
# removed (most dated from before their queries' scalar anchors were
# rewritten to window/checkpoint devices) so R1 can catch a nested-loop
# regression in them again. Presence of these nodes is a logical-plan
# property (non-equi joins only), so the sf0.001 plan is authoritative.
ALLOW_NON_EQUI = {
    # (r13: the semdedup entry retired here — the JL projection became
    # one map-side expression, so the 1-row bit-count cross-join no
    # longer exists in any plan.)
    "join_range_price_brackets",  # range join: bracket dim is 4 rows, broadcast NL is the plan
    "forecast_mann_kendall_trend",  # month-grain pair expansion (~80 rows/side)
    "forecast_theil_sen_trend",  # month-grain pair expansion
    "eval_kendall_tau_brands",  # brand-grain (~25 rows) pair expansion + 1-row n anchor
    "market_basket_rules",  # antecedent->consequent direction pairs on the pair panel
    "mixture_temperature_weights",  # 1-row totals join
    "eval_cohens_kappa",  # 1-row totals cross join
    "cusum_change_detection",  # 1-row target broadcast
    "ab_sprt_sequential_boundary",  # 1-row terminal x 0/1-row crossing anchors
    "bandit_ucb1_allocation",  # 1-row total-plays anchor on the 4-arm frame
    "inventory_ss_policy_replay",  # 36-month literal grid onto the brand frame
    "replication_merkle_diff",  # 1-row repair x divergence-stats anchors
    # (r8: dq_t_closeness_audit removed from non-equi — the sens-grid
    # cross join sits behind the grid checkpoint now)
    "survival_logrank_test",  # dense arm x duration grid (observation-window bounded)
    # (r8: privacy_release_gate removed from non-equi — inherits the
    # checkpointed t-closeness stage)
    "chi_square_priority_status",  # 5x3 grid x totals
    "drift_psi_event_mix",  # 1-row totals cross join
    "forecast_pacf_durbin_levinson",  # 3-row lag panel + 1-row stats cross joins
    "embedding_pca_power_iteration",  # 1-row n / l-inf-norm scalar anchors per round
    "embedding_random_projection_jl",  # 16-row sign-matrix dim cross join
    "layout_pack_shard_balance",  # 1-row totals cross join
    "sketch_ams_f2_moment",  # estimator panel + 1-row truth cross joins
    "sketch_count_sketch_estimates",  # 5-row depth panel cross joins
    "sketch_ams_join_size_estimate",  # estimator panel + 1-row truth cross joins
    "text_bleu_source_similarity",  # 1-row reference-length scalar cross join + per-order clip anchors
    "join_bloom_runtime_filter_audit",  # 1-row build-key-count anchor
    "eval_harrell_c_index",  # 10-row literal decile grid onto the duration frame
    "eval_rank_biased_overlap",  # 20-row depth grid x <=20 entry depths
    "eval_krippendorff_alpha_langid",  # 1-row label-totals anchor
    "forecast_causal_impact_counterfactual",  # 1-row pre-period sums onto 12 post months
    "eval_brier_murphy_decomposition",  # 1-row global sums onto the bin grain
    "attribution_markov_removal",  # 1-row count-matrix x 1-row visits anchors
    "recsys_coverage_novelty_audit",  # 1-row baskets/catalog/top10 anchors on the slot frame
    "ab_permutation_test_hashed",  # 200-row replicate grid + 1-row group-sums anchors
    "storage_sort_key_advisor",  # 1-row best-layout anchor onto the 3-row candidate frame
    "text_rouge_l_source_similarity",  # 1-row reference-name/sequence anchors (the BLEU shape)
    "sketch_kmv_rolling_distinct_7d",  # day-grid range join (31 rows x <=k hashes)
    "resample_gap_filled_30min",  # dense grid expansion (bounded by calendar)
    "attribution_shapley_channels",  # 16-coalition grid + 1-row span anchor
    "corpus_greedy_source_cover",  # 1-row universe anchor on the 5-row trace
    "sketch_kmv_distinct_userdays",  # k-th order statistic scalar probe
    "incremental_topk_maintenance",  # 1-row old-kth-boundary scalar broadcast
    "eval_kruskal_wallis",  # 1-row tie-term scalar combine
    "dq_simpsons_paradox_audit",  # 1-row pooled-stats cross join
    "forecast_durbin_watson_residuals",  # 1-row OLS-stats cross join onto 36 months
    "forecast_ljung_box_q",  # composes the ACF stage (12-row lag grid + 1-row stats anchor)
    "forecast_engle_granger_cointegration",  # 1-row OLS-stats + quantizer scalar broadcasts
    "timeseries_dtw_monthly_segments",  # 1-row reference-vector broadcast onto 5 segments
    "timeseries_hurst_rs",  # three 1-row R/S-leg anchors
    "text_good_turing_unseen_mass",  # 1-row summary cross join onto the bounded histogram
    "storage_dictionary_encoding_advisor",  # 1-row stats x 1-row dict-size per column
    "mixture_repeat_epochs_plan",  # 1-row budget scalar onto the source-grain grid
    "sketch_kmv_intersection",  # sketch-union scalar probes
    "storage_rle_sortedness_audit",  # 1-row boundary-merge count x 1-row within-block runs combine (r9 sharded natural leg)
    # (r8: agg_approx_percentiles and ann_recall_report removed — both
    # are rows-only queries, and the lint only builds ORACLE-BACKED
    # plans, so their entries were permanently dead; the contract test
    # now pins every allowlisted name to registry.ORACLES)
    "eval_qq_quantile_pairs",  # decile-index pair alignment
    "agg_histogram_equidepth_localized",  # 7-row rank grid onto the domain-bounded bucket grid + 1-row cuts-array broadcast
    "text_pmi_cooccurrence",  # vocab-capped pair space
    "retrieval_mmr_diversified",  # bounded 20x20 pair matrix
    "retrieval_rrf_fusion",  # shortlist fusion (50-row sides)
    "retrieval_hybrid_bm25_vector",  # shortlist full-outer fuse
    "retrieval_coarse_to_fine_rerank",  # 50-candidate rerank probe
    "retrieval_binary_quantization",  # hamming shortlist x query row
    "knn_cosine_bruteforce",  # broadcast query side by design
    "text_bm25_scores",  # 1-row corpus stats anchor
    # (r8: pipeline_full_release removed — the inherited curation +
    # mixture 1-row nested-loop anchors now sit behind the stitched
    # id-set localCheckpoints, so the final plan carries no NL node;
    # the stage queries that own those anchors are linted directly)
    "dedup_strategy_overlap_matrix",  # 4x4 name grid
    "graph_triangle_coparts",
    "tpch_q11_important_parts",  # global-threshold scalar anchor
    "tpch_q22_dormant_rich_customers",  # avg-balance scalar anchor
    "eval_langid_precision_recall_f1",
    "mixture_token_budget_allocation",
    "leakage_embedding_cosine_cross_split",
    "join_cross_region_pairs",  # the cross-join operator itself
    "skew_diagnostics_orders",  # key-distribution grid x totals
    "diag_join_skew_advisor",  # advisor grid x totals
    "datetime_timezone_suite",  # 3-row zone VALUES grid
    "neardup_embedding_cosine",  # documented brute-force cosine baseline
    "feature_target_encoding_loo",  # 1-row global-mean anchor
    "feature_woe_iv",  # 1-row global-counts anchor
    "mining_contrastive_triplets",  # anchor-positive-negative pair mining
    "allocation_invoice_rounding",  # 1-row invoice-total anchor
    "sketch_hll_deterministic",  # 1-row global-truth anchor for '__all__'
    "trending_parts_decayed",  # 1-row max-month anchor
    "sample_neyman_allocation",  # 1-row weight-total anchor
    "sample_dsir_importance",  # 1-row k-th-threshold broadcast (r9)
    "forecast_acf_monthly",  # 12-row lag grid + 1-row stats anchor
    "territory_snake_balanced_assignment",  # 1-row total anchor
    "eval_ndcg_retrieval",  # composes the broadcast-NL knn baseline
    "eval_map_retrieval",  # composes the broadcast-NL knn baseline
    "sample_walk_forward_folds",  # 5-fold x month-grain design grid
    "ab_diff_in_diff",  # 1-row 2x2 wide pivot broadcast
    "forecast_conformal_interval",  # 1-row q-hat anchor
    "eval_expected_calibration_error",  # 1-row max-score normalizer
    "eval_label_silhouette",  # documented corpus-bounded all-pairs matrix
    # (r8: neardup_simhash_exact removed from non-equi too — the bit
    # grid broadcast sits behind the signature checkpoint now)
    "eval_linkage_quality",  # 1-row truth anchor
    "text_term_burstiness",  # 1-row corpus-size anchor
    # (r8: graph_rich_club_coefficient removed — the degree-cutoff
    # grid join sits behind the club checkpoint now)
    "graph_hits_hubs_authorities",  # 1-row max-normalizer anchor per half-round
    "sketch_ddsketch_quantiles",  # 1-row exact-quantile audit anchor
    "text_burrows_delta",  # 20-row top-word grid cross join onto source totals
    "eval_bradley_terry_strengths",  # 1-row max-renormalizer anchor per MM round
}

# R2: documented global-order operators (range partition IS the plan).
# Rebuilt in r7 from plan reality: the r1-r6 pattern ("Exchange
# rangepartitioning", simple-explain syntax) never matched FORMATTED
# plans, so R2 was dead and this list had accumulated 64 precautionary
# entries whose plans contain no range exchange at all (window ORDER BY
# sorts within hash partitions; sort+limit compiles to
# TakeOrderedAndProject — neither emits rangepartitioning). Those are
# removed so R2 can catch a real global-sort regression in them. What
# remains is exactly the set of plans that DO carry a rangepartitioning
# exchange, each with its rationale.
ALLOW_GLOBAL_SORT = {
    # mid-plan range exchanges that ARE the algorithm
    "text_burrows_delta",  # vocab rank grid is rank-ordered by construction
    "dedup_semantic_semdedup",  # celled pair join orders cells for the pair leg
    # final presentation sorts on bounded aggregated outputs (KB-sized
    # frames at any data scale; the sorted grain is the output grain)
    "flagship_revenue_by_segment_month",  # 120-row segment x month dashboard order
    "agg_pricing_summary",  # TPC-H Q1 ORDER BY returnflag, linestatus (4 rows)
    "sort_multi_column_suppliers",  # the multi-column global sort IS the operator (T1)
    "sql_group_order_by_all_suite",  # ORDER BY ALL is the demonstrated SQL surface
    "tpch_q15_top_supplier",  # spec ORDER BY s_suppkey on the winner rows
    "cdc_log_compaction",  # compacted per-user latest-state, user-ordered output
    "sample_pps_systematic",  # final sort on the <=k(=100) sampled rows (r9: appeared when the sharded prefix-sum replaced the single-partition window — the pre-fix plan was already 1 partition so its output sort needed no range exchange)
    "graph_hits_hubs_authorities",  # 25-nation hub/authority table, name-ordered
    "text_bleu_source_similarity",  # per-source BLEU panel, source-ordered
}

# R4: compositions that legitimately chain many shuffling stages — the
# multi-strategy/meta reports and multi-leg retrieval stacks. The storm
# rule still fires if they GROW past their audited count + 8.
ALLOW_MANY_EXCHANGES = {
    # (r8: dedup_strategy_overlap_matrix removed — the tagged pair-set
    # union is localCheckpoint'ed, so the 4 strategy plans print once;
    # 124 -> 8 Exchanges, under the default cap)
    # (r8: graph_triangle_coparts removed — rewritten to per-edge
    # adjacency-array intersection with checkpointed edge/degree/
    # adjacency frames; 94 -> 9 Exchanges, under the default cap)
    # (r8: market_basket_apriori_triples removed — lines and the
    # pruned basket are checkpointed; 37 -> 4 Exchanges, under the
    # default cap; 4.2 -> 2.6 s warm at sf0.1)
    # (r8: graph_link_prediction_common_suppliers removed — pairs and
    # kept are checkpointed; 31 -> 7 Exchanges, under the default cap)
    # (r8: neardup_prefix_filter_join removed — tok and prefix are
    # checkpointed; 21 -> 4 Exchanges, under the default cap)
    # (r8: neardup_incremental_prefix_join removed — tok and prefix
    # are checkpointed; 21 -> 4 Exchanges, under the default cap)
    # (r8: recsys_item_item_cosine removed — lines and scored are
    # checkpointed; 21 -> 1 Exchange, under the default cap)
    "pipeline_curate_and_pack": 14,
    # (r8: pipeline_full_release removed — its stitched id-sets are now
    # localCheckpoint'ed so each stage plan runs once; 122 -> 5
    # Exchanges, under the default cap)
    "retrieval_hybrid_bm25_vector": 14,
    "mixture_token_budget_allocation": 13,
    "storage_dictionary_encoding_advisor": 30,  # 6 independent column profiles (tiny dims), 5 exchanges each
    # (r8: eval_harrell_c_index removed — the dur x bucket cells are
    # checkpointed; 14 -> 7 Exchanges, under the default cap)
    "timeseries_dtw_monthly_segments": 13,  # dense month grid build + ordered-vector rollup + ref broadcast
    # (r8: forecast_ljung_box_q removed — the 12-row ACF stage is
    # checkpointed; 18 -> 3 Exchanges, under the default cap. Its n
    # anchor is now an OVER () window, so the stage prints once
    # without the checkpoint: 9 Exchanges)
    # (r8: dq_t_closeness_audit removed — cells and grid are
    # checkpointed; 20 -> 4 Exchanges, under the default cap)
    # (r8: privacy_release_gate removed — inherits the checkpointed
    # t-closeness stage; 24 -> 7 Exchanges, under the default cap)
    # (r8: survival_logrank_test removed — the (arm, dur) panel is
    # checkpointed; 22 -> 9 Exchanges, under the default cap)
    "sketch_kmv_intersection": 13,
    # (r8: sketch_kmv_rolling_distinct_7d removed — du and the day
    # grid are checkpointed; 15 -> 7 Exchanges, under the default cap)
    # (r8: attribution_shapley_channels removed — the 16-row coalition
    # value table is checkpointed; 17 -> 5 Exchanges, under the
    # default cap)
    # (r8: market_basket_rules removed — lines is checkpointed;
    # 13 -> 9 Exchanges, under the default cap)
    # (r8: text_pmi_cooccurrence removed — dt and dv are checkpointed;
    # 13 -> 5 Exchanges, under the default cap)
    # (r8: text_bm25_scores removed — tok and tf are checkpointed;
    # 13 -> 11 Exchanges, under the default cap)
    "dq_referential_integrity": 14,  # 7-edge audit union
    "dq_primary_key_uniqueness": 14,  # 7-table audit union
    # (r8: sketch_hll_deterministic removed — hashed and regs are
    # checkpointed; 13 -> 8 Exchanges, under the default cap)
    # (r8: neardup_simhash_exact removed — banding is one map-side
    # explode over the checkpointed signature frame now; 65 -> 2
    # Exchanges, under the default cap)
    # (r8: graph_rich_club_coefficient removed — edges and club are
    # checkpointed; 39 -> 6 Exchanges, under the default cap)
    "timeseries_hurst_rs": 13,  # three R/S window legs on the checkpointed 84-row series
    "text_burrows_delta": 19,  # token explode + vocab rank + totals/count grid joins + pair leg
    "text_bleu_source_similarity": 16,  # 4-order gram union + reference clip join + length legs
    # r11 persist wave: the data-proportional shared frames below were
    # switched from localCheckpoint to persist (eviction-fatality rule,
    # SURVEY 8.15), which keeps their lineage VISIBLE through every
    # consumer in the printed plan — the exchange counts below are
    # plan-printing artifacts of that visibility (execution still
    # materializes each frame once and scans cached blocks; the r8
    # storm-era counts these echo were EXECUTED cartesians/rescans,
    # these are not).
    "neardup_prefix_filter_join": 14,  # tok+prefix persisted; printed through both pair legs
    "neardup_incremental_prefix_join": 14,  # same, delta + base legs
    "recsys_item_item_cosine": 13,  # lines ckpt + scored persisted through sym legs
    "recsys_coverage_novelty_audit": 63,  # inherits item-item's persisted frames through 4 report legs
    "dedup_sorted_neighborhood": 27,  # persisted sharded sort keys printed through 3 lead-offsets + carry legs
    "graph_triangle_coparts": 17,  # persisted oriented/adjacency frames through both wedge sides
    "text_pmi_cooccurrence": 13,  # persisted dt/dv through vocab + both pair legs
    "text_bm25_scores": 13,  # persisted tok/tf through dl/idf/score legs
    "text_vocab_accumulation_curve": 13,  # persisted (doc, text, decile) frame through first-seen + counts
    "text_heaps_law_fit": 13,  # same shared _accum_ordered frame
}

FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

# Pre-checkpoint pass (r8 ADVICE): localCheckpoint boundaries hide the
# upstream stages from the final physical plan, so a regression to a
# cartesian / row-UDF / unbounded-single-partition INSIDE a
# checkpointed stage would be invisible to the main lint. Pass 2
# rebuilds every plan with DataFrame.localCheckpoint patched to
# identity and lints R1/R5/R6 on the full pre-checkpoint tree (R2/R4
# don't apply: a staged plan executes each stage once, so exchange
# counts / presentation sorts of the flattened tree measure a plan
# that never runs). EMPTY by measurement (r9 full pre-checkpoint scan):
# every non-equi / single-partition pattern in the flattened plans is
# already covered by the MAIN allowlists — the r8 checkpoint pass
# turned out to have REWRITTEN the storm-era stage cartesians away
# (t-closeness, release gate, simhash, rich-club, full-release), not
# merely hidden them. Any future entry here means a checkpointed stage
# grew a new pattern the main lint can't see — name the bounded grain
# or fix the stage.
ALLOW_NON_EQUI_PRECHECKPOINT: set[str] = {
    # r13: surfaced when the pass-2 flatten patch was repaired for
    # Spark 4 (classic DataFrame overrides localCheckpoint — see the
    # patch site below). Audited one by one over the flattened
    # OPTIMIZED plans: every Join Cross carries
    # rightHint=(strategy=broadcast) on a 1-row/bounded aggregate
    # anchor (the scalar crossJoin device), except rich_club whose
    # non-equi join is a broadcast over the bounded k-degree grid.
    # anomaly_seasonal_hybrid_esd's 2343 nodes are the unrolled ESD
    # rounds' per-round 1-row anchors (iterative-loop checkpoints keep
    # the executed plans small).
    "agg_theil_inequality_decomposition",
    "anomaly_seasonal_hybrid_esd",
    "dq_t_closeness_audit",
    "graph_modularity_regions",
    "graph_pagerank_trade",
    "graph_rich_club_coefficient",
    "neardup_simhash_exact",
    "pipeline_full_release",
    "privacy_release_gate",
    "sample_coreset_kcenter_greedy",
    "window_downsample_lttb",
}

# R6 equivalents hidden behind checkpoints (same doctrine: name the
# bounded grain or fix the stage).
ALLOW_SINGLE_PARTITION_PRECHECKPOINT: dict[str, str] = {}

# R6: queries whose single-partition stage over a non-aggregated input
# is the documented algorithm on a bounded grain the subtree check
# cannot see (filled from the r9 scan; each entry names the grain).
# The other 8 r9-scan findings were FIXED (prefix-sharded rank /
# boundary-carry / broadcast-ring devices), not allowlisted.
ALLOW_SINGLE_PARTITION: dict[str, str] = {
    "skyline_parts_pareto": "phase-2 re-prune runs over the phase-1 per-bucket survivors (~O(32 log n) rows — window-filtered, not aggregated, so the subtree check cannot see the bound)",
    "agg_histogram_equidepth": "the exact global-ntile anchor; the registered scale path is agg_histogram_equidepth_localized (rank localization + comparison bucketing)",
    "corpus_greedy_source_cover": "the 5-round greedy trace union (one 1-row local frame per round) feeding the final ordered report",
}

# R7 (r11, verdict task): the pinned inventory of BOUNDED
# single-partition WINDOW sites — every query whose plan feeds a
# Window operator from an Exchange SinglePartition. Each of these is
# a bounded-grain frame (the window runs over an already-aggregated /
# limited row set, so the runtime WindowExec "Moving all data to a
# single partition" warning is benign), and R6 separately proves no
# UNBOUNDED single-partition stage exists. This list exists so the
# warning NOISE stays accounted for: a new single-partition window —
# even a bounded one — must be consciously added here, and a site
# that disappears is reported unused, keeping the count exact. A
# future *real* unpartitioned window over raw data would trip BOTH
# R6 and this rule.
WINDOW_SP_EXPECTED = {
    # r11 persist wave: dedup_sorted_neighborhood's sharded-prefix
    # offsets window (a <=16-row shard grid) became visible in the
    # final plan when its sort-key frame switched to persist.
    "dedup_sorted_neighborhood",
    # r13 single-pass rework: the final rank's row_number window (over
    # the already-limited <= TOPK_IVM_K merged rows) became a visible
    # SinglePartition window when the hist/delta partials collapsed to
    # one conditional-aggregation pass.
    "incremental_topk_maintenance",
    "ab_tost_equivalence",
    "agg_grouped_ols_trend",
    "agg_histogram_equidepth",
    "agg_histogram_equidepth_localized",
    "anomaly_seasonal_adjusted",
    "bandit_ucb1_allocation",
    "benford_first_digit_audit",
    "chi_trend_cochran_armitage",
    "corpus_greedy_source_cover",
    "cusum_change_detection",
    "diag_join_skew_advisor",
    "dq_t_closeness_audit",
    "eval_anova_f_oneway",
    "eval_auc_delong_ci",
    "eval_bradley_terry_strengths",
    "eval_brown_forsythe_levene",
    "eval_cost_optimal_threshold",
    "eval_decile_lift_table",
    "eval_effect_size_contingency",
    "eval_fairness_group_metrics",
    "eval_kruskal_wallis",
    "eval_ks_two_sample",
    "eval_mann_whitney_u",
    "eval_mutual_information",
    "eval_page_trend_test",
    "eval_pr_curve",
    "eval_qini_uplift_curve",
    "eval_rank_biased_overlap",
    "eval_roc_auc_scores",
    "eval_spearman_rank_corr",
    "eval_welch_t_test",
    "finance_npv_monthly_cashflows",
    "forecast_acf_monthly",
    "forecast_causal_impact_counterfactual",
    "forecast_conformal_interval",
    "forecast_dickey_fuller_unit_root",
    "forecast_durbin_watson_residuals",
    "forecast_engle_granger_cointegration",
    "forecast_granger_urgent_revenue",
    "forecast_ljung_box_q",
    "forecast_pacf_durbin_levinson",
    "forecast_seasonal_decomposition",
    "forecast_seasonal_naive_backtest",
    "forecast_seasonal_trend_strength",
    "forecast_theil_sen_trend",
    "forecast_theil_u2_accuracy",
    "forecast_theta_method",
    "graph_kcore_peel",
    "inventory_abc_xyz_matrix",
    "mixture_doremi_tilt",
    "mixture_repeat_epochs_plan",
    "mixture_token_budget_allocation",
    "ops_cache_belady_vs_lru",
    "ops_error_budget_burn",
    "ops_multiwindow_burn_alerts",
    "pareto_abc_parts",
    "privacy_release_gate",
    "retrieval_hybrid_bm25_vector",
    "revenue_max_drawdown",
    "revenue_mom_growth",
    "rfm_customer_segments",
    "sample_dsir_importance",
    "sample_neyman_allocation",
    "sample_pps_systematic",
    "sample_walk_forward_folds",
    "shard_consistent_hash_ring",
    "sketch_ams_f2_moment",
    "sketch_ams_join_size_estimate",
    "sketch_ddsketch_quantiles",
    "skyline_parts_pareto",
    "sql_scalar_udf_suite",
    "storage_gorilla_ts_encoding_audit",
    "storage_rle_sortedness_audit",
    "storage_zonemap_skipping_audit",
    "streaming_watermark_eviction_audit",
    "survival_kaplan_meier",
    "survival_nelson_aalen",
    "territory_snake_balanced_assignment",
    "text_bm25_scores",
    "text_heaps_law_fit",
    "text_vocab_accumulation_curve",
    "tpcds_q51_cumulative_compare",
    "trending_parts_decayed",
    "window_bollinger_bands",
    "window_rolling_correlation",
    "window_zscore_rolling",
}

# Nodes that bound the rows reaching a downstream single-partition
# stage: any aggregation collapses to a group grain; any limit-family
# node caps the row count outright.
_BOUNDING_NODES = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
)

import re  # noqa: E402


def parse_tree(plan: str) -> list[tuple[int, str, int]]:
    """(depth, node name, node id) triples from the formatted-explain
    tree header. Indentation is 3 chars per level; codegen stars and
    branch connectors (+- :-) are stripped; the node id is the
    trailing ``(N)``."""
    header = plan.split("\n\n", 1)[0]
    nodes = []
    for ln in header.splitlines():
        m = re.match(r"^([:+\-\s]*)\*?\s*(.+?)\s*\((\d+)\)\s*$", ln)
        if m:
            nodes.append(
                (len(m.group(1)) // 3, m.group(2).strip(), int(m.group(3)))
            )
    return nodes


def single_partition_exchange_ids(plan: str) -> set[int]:
    """Node ids of shuffle Exchanges that move everything to one
    partition. In FORMATTED explain the detail block reads
    ``(N) Exchange`` / ``Input [...]`` / ``Arguments: SinglePartition,
    ...`` — probed before writing the pattern (the r7 R2 lesson)."""
    return {
        int(m.group(1))
        for m in re.finditer(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition",
            plan,
        )
    }


def unbounded_single_partition(plan: str) -> bool:
    """True when some Exchange SinglePartition has NO aggregate/limit
    anywhere below it — i.e. a single task will process a row count
    that grows with the data."""
    tree = parse_tree(plan)
    sp_ids = single_partition_exchange_ids(plan)
    for i, (depth, _name, nid) in enumerate(tree):
        if nid not in sp_ids:
            continue
        bounded = False
        for d2, n2, _id2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            if n2.startswith(_BOUNDING_NODES):
                bounded = True
                break
        if not bounded:
            return True
    return False


def nonequi_join_unbounded(plan: str) -> bool:
    """True when some CartesianProduct / BroadcastNestedLoopJoin node
    has NO bounded side — no aggregate/limit node and no literal
    LocalTableScan / OneRowRelation leaf in EITHER child subtree. A
    ``Range`` leaf does not bound a side: ``spark.range(n)`` can have
    any cardinality. r14 (ADVICE r13): the ALLOW_NON_EQUI_PRECHECKPOINT
    allowlist's claimed property — every flattened cross join is
    anchored on a 1-row/bounded aggregate side — is now verified
    mechanically per plan instead of trusted per name, so a NEW
    unbounded non-equi join growing inside an allowlisted query still
    fails the lint."""
    tree = parse_tree(plan)
    for i, (depth, node, _nid) in enumerate(tree):
        if not node.startswith(("CartesianProduct", "BroadcastNestedLoopJoin")):
            continue
        bounded = False
        for d2, n2, _id2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            if n2.startswith(_BOUNDING_NODES) or n2.startswith(
                ("LocalTableScan", "Scan OneRowRelation")
            ):
                bounded = True
                break
        if not bounded:
            return True
    return False


def window_single_partition(plan: str) -> bool:
    """True when any Window-family node's subtree contains an
    Exchange SinglePartition — the static twin of the runtime
    WindowExec single-partition warning."""
    tree = parse_tree(plan)
    sp_ids = single_partition_exchange_ids(plan)
    if not sp_ids:
        return False
    for i, (depth, node, _nid) in enumerate(tree):
        if not node.startswith("Window"):
            continue
        for d2, _n2, id2 in tree[i + 1 :]:
            if d2 <= depth:
                break
            if id2 in sp_ids:
                return True
    return False


# ---- R9: wide-decimal -> double casts in the ANALYZED plan ----
_R9_DEC_RE = re.compile(r"decimal\((\d+),(\d+)\)")
_R9_MAX_SAFE_PRECISION = 15  # 10^15 < 2^53: unscaled value exact in double


def _r9_forests(node, out):
    """Collect every maximal JSON list that encodes a flat pre-order
    forest of Catalyst tree nodes (dicts with class/num-children)."""
    if isinstance(node, list):
        if node and all(
            isinstance(el, dict) and "class" in el for el in node
        ):
            out.append(node)
        for el in node:
            _r9_forests(el, out)
    elif isinstance(node, dict):
        for v in node.values():
            _r9_forests(v, out)


def _r9_effective_decimal(tree):
    """(precision, scale) of a serialized expression subtree, or None.

    Catalyst's toJSON only carries ``dataType`` on constructor-typed
    nodes (Cast/Literal/AttributeReference); derived types (Sum,
    arithmetic, Coalesce, window buffers) must be re-derived — the
    r13 session measured that the direct-child shortcut silently
    missed every cast over an aggregate. Widening rules mirror
    Spark's DecimalType results (conservative where inexact — R9
    prefers a surfaced site over a silent one)."""
    node, kids = tree
    dt = _R9_DEC_RE.fullmatch(str(node.get("dataType", "")))
    if dt:
        return int(dt.group(1)), int(dt.group(2))
    if node.get("dataType"):
        # a typed node that is NOT decimal (e.g. Cast to BIGINT —
        # the narrowing device itself) terminates decimal propagation
        return None
    cls = node.get("class", "").rsplit(".", 1)[-1]
    kid_types = [_r9_effective_decimal(k) for k in kids]
    kid_types = [t for t in kid_types if t]
    if cls in ("AggregateExpression", "WindowExpression", "Alias",
               "SortOrder", "CheckOverflow", "PromotePrecision",
               "KnownNotNull", "Abs", "UnaryMinus", "UnaryPositive"):
        return kid_types[0] if kid_types else None
    if cls in ("Round", "BRound"):
        # Spark: round(decimal(p,s), d) -> decimal(p - s + d + 1, d)
        if kid_types:
            p0, s0 = kid_types[0]
            d = 0
            if len(kids) >= 2:
                lit = kids[1][0]
                if lit.get("class", "").endswith(".Literal"):
                    try:
                        d = int(lit.get("value"))
                    except (TypeError, ValueError):
                        d = s0
                else:
                    d = s0
            return min(38, max(1, p0 - s0 + d + 1)), max(0, d)
        return None
    if cls == "Sum":
        if kid_types:
            p, s = kid_types[0]
            return min(38, p + 10), s
        return None
    if cls == "Average":
        if kid_types:
            p, s = kid_types[0]
            return min(38, p + 4), min(38, s + 4)
        return None
    if cls in ("Min", "Max", "First", "Last", "Coalesce", "If",
               "CaseWhen", "Greatest", "Least", "NullIf", "Nvl",
               "Lag", "Lead", "NthValue"):
        return max(kid_types) if kid_types else None
    if cls in ("Add", "Subtract"):
        if len(kid_types) >= 1:
            p = max(t[0] for t in kid_types)
            s = max(t[1] for t in kid_types)
            return min(38, p + 1), s
        return None
    if cls in ("Multiply", "Divide", "IntegralDivide", "Remainder",
               "Pmod"):
        if cls == "IntegralDivide":
            return None  # Spark DIV yields BIGINT
        if len(kid_types) == 2:
            return (
                min(38, kid_types[0][0] + kid_types[1][0] + 1),
                min(38, kid_types[0][1] + kid_types[1][1]),
            )
        # decimal op non-decimal: keep the decimal side, widened
        if len(kid_types) == 1:
            p, s = kid_types[0]
            return min(38, p + 10), s
        return None
    # unknown derived node over decimal children: conservative pass-up
    return max(kid_types) if kid_types else None


def _r9_scan_forest(flat: list, hits: list) -> None:
    """Cursor-reconstruct the pre-order forest and record every
    Cast(decimal(p>15) -> double) whose child subtree is not
    constant-foldable."""
    idx = 0

    def rec():
        nonlocal idx
        if idx >= len(flat):
            return None
        node = flat[idx]
        idx += 1
        kids = []
        for _ in range(int(node.get("num-children", 0) or 0)):
            k = rec()
            if k is not None:
                kids.append(k)
        cls = node.get("class", "")
        if (
            cls.endswith(".Cast")
            and node.get("dataType") == "double"
            and kids
        ):
            ch = kids[0][0]
            ch_cls = ch.get("class", "").rsplit(".", 1)[-1]
            eff = _r9_effective_decimal(kids[0])

            def _has_attr(t):
                n2, k2 = t
                if n2.get("class", "").endswith(".AttributeReference"):
                    return True
                return any(_has_attr(k) for k in k2)

            if (
                eff
                and eff[0] > _R9_MAX_SAFE_PRECISION
                and ch_cls != "Literal"
                # constant-foldable subtrees (no attribute anywhere)
                # convert at plan time to one fixed value — exempt
                and _has_attr(kids[0])
            ):
                hits.append(
                    {
                        "child": ch_cls,
                        "type": f"decimal({eff[0]},{eff[1]})",
                        "name": str(ch.get("name", ""))[:40],
                    }
                )
        return (node, kids)

    while idx < len(flat):
        rec()


def wide_decimal_casts(df) -> list[dict]:
    """R9 scan over the query's ANALYZED logical plan (pre-optimizer,
    so named attributes survive for the report)."""
    payload = json.loads(df._jdf.queryExecution().analyzed().toJSON())
    forests: list = []
    _r9_forests(payload, forests)
    hits: list[dict] = []
    seen = set()
    for f in forests:
        if id(f) in seen:
            continue
        seen.add(id(f))
        _r9_scan_forest(f, hits)
    return hits


# R10: queries that fire Spark jobs while their DataFrame is built —
# the eager devices and iterative loops left once catalog.load pins
# parquet schemas (ROADMAP item 2's next step). Exact: a query that
# gains a build job fails lint, one that loses its last is reported.
ALLOW_BUILD_JOBS: set[str] = {
    # eager localCheckpoint sites (each carries its R8 ckpt-grain: tag),
    # per round where the query iterates
    "ab_permutation_test_hashed",
    "ab_sprt_sequential_boundary",
    "agg_theil_inequality_decomposition",
    "anomaly_seasonal_hybrid_esd",
    "attribution_markov_removal",
    "attribution_shapley_channels",
    "corpus_greedy_source_cover",
    "dedup_connected_components",
    "dedup_semantic_semdedup",
    "dedup_sorted_neighborhood",
    "dedup_strategy_overlap_matrix",
    "dq_t_closeness_audit",
    "embedding_pca_power_iteration",
    "eval_bradley_terry_strengths",
    "eval_harrell_c_index",
    "eval_krippendorff_alpha_langid",
    "forecast_pinball_loss_quantile",
    "graph_hits_hubs_authorities",
    "graph_kcore_peel",
    "graph_link_prediction_common_suppliers",
    "graph_modularity_regions",
    "graph_pagerank_trade",
    "graph_rich_club_coefficient",
    "graph_triangle_coparts",
    "incremental_topk_maintenance",
    "join_bloom_runtime_filter_audit",
    "market_basket_rules",
    "neardup_incremental_prefix_join",
    "neardup_prefix_filter_join",
    "neardup_simhash_exact",
    "pipeline_full_release",
    "recsys_coverage_novelty_audit",
    "recsys_item_item_cosine",
    "sample_coreset_kcenter_greedy",
    "sample_dsir_importance",
    "sketch_hll_deterministic",
    "sketch_kmv_rolling_distinct_7d",
    "storage_sort_key_advisor",
    "survival_logrank_test",
    "text_bleu_source_similarity",
    "timeseries_hurst_rs",
    "window_downsample_lttb",
    # build on a checkpointing query's frames
    "dedup_cluster_representatives",  # dedup_connected_components
    "privacy_release_gate",  # dq_t_closeness_audit
    # count() to a driver literal
    "replication_merkle_diff",
    "text_tfidf_top_terms",
    # SET VAR evaluates its scalar subquery when the variable is set
    "sql_session_variables_suite",
}

_BUILD_GROUPS = itertools.count(1)


def count_build_jobs(spark, build):
    """(build(), number of Spark jobs it fired), via a job group."""
    sc = spark.sparkContext
    gid = f"plan-lint-build-{next(_BUILD_GROUPS)}"
    sc.setJobGroup(gid, "plan_lint build")
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is filled from the listener bus: let it catch up
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def lint_build_jobs(build_jobs: dict[str, int]) -> tuple[list[dict], list[str]]:
    """R10 findings (a query above 0 build jobs outside ALLOW_BUILD_JOBS)
    and the allowlisted names measured at 0 (unused entries)."""
    findings = [
        {"rule": "R10-build-jobs", "query": n, "jobs": j}
        for n, j in sorted(build_jobs.items())
        if j and n not in ALLOW_BUILD_JOBS
    ]
    unused = sorted(n for n in ALLOW_BUILD_JOBS if build_jobs.get(n) == 0)
    return findings, unused


def lint_one(name: str, plan: str) -> list[dict]:
    findings = []
    if ("CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan) and (
        name not in ALLOW_NON_EQUI
    ):
        findings.append({"rule": "R1-cartesian", "query": name})
    # NB: in FORMATTED explain output the node renders as "(N) Exchange"
    # with "Arguments: rangepartitioning(...)" on its own line — the
    # r1-r6 pattern "Exchange rangepartitioning" (simple-explain syntax)
    # could never match, so R2 was dead until the r7 allowlist audit
    # exposed it. Only range-partitioned exchanges (global sort /
    # repartitionByRange) emit this token; TakeOrderedAndProject and
    # window-local sorts do not.
    if "rangepartitioning(" in plan and name not in ALLOW_GLOBAL_SORT:
        findings.append({"rule": "R2-global-sort", "query": name})
    n_exchanges = plan.count("Exchange ")
    cap = ALLOW_MANY_EXCHANGES.get(name, 4) + 8
    if n_exchanges > cap:
        findings.append(
            {"rule": "R4-exchange-storm", "query": name, "exchanges": n_exchanges}
        )
    if "BatchEvalPython" in plan:
        findings.append({"rule": "R5-row-python-udf", "query": name})
    if unbounded_single_partition(plan) and name not in ALLOW_SINGLE_PARTITION:
        findings.append({"rule": "R6-single-partition", "query": name})
    if window_single_partition(plan) and name not in WINDOW_SP_EXPECTED:
        findings.append({"rule": "R7-window-single-partition", "query": name})
    return findings


def lint_one_precheckpoint(name: str, plan: str) -> list[dict]:
    """Pass-2 rules over the checkpoint-flattened plan: R1/R5/R6 only
    (see ALLOW_NON_EQUI_PRECHECKPOINT for why R2/R4 don't apply)."""
    findings = []
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if (
            name not in ALLOW_NON_EQUI
            and name not in ALLOW_NON_EQUI_PRECHECKPOINT
        ):
            findings.append({"rule": "R1-cartesian-prechk", "query": name})
        elif name in ALLOW_NON_EQUI_PRECHECKPOINT and nonequi_join_unbounded(
            plan
        ):
            # r14 (ADVICE r13): the allowlist no longer exempts a query
            # wholesale — its claimed bounded-anchor property is checked
            # mechanically on every run, so a new UNBOUNDED non-equi
            # join inside an allowlisted query still fails.
            findings.append(
                {"rule": "R1-cartesian-prechk-unbounded", "query": name}
            )
    if "BatchEvalPython" in plan:
        findings.append({"rule": "R5-row-python-udf-prechk", "query": name})
    if unbounded_single_partition(plan) and (
        name not in ALLOW_SINGLE_PARTITION
        and name not in ALLOW_SINGLE_PARTITION_PRECHECKPOINT
    ):
        findings.append({"rule": "R6-single-partition-prechk", "query": name})
    return findings


# ---- R8: localCheckpoint grain annotations (source scan) ----
CKPT_GRAIN_TAGS = {"bounded", "iterative-loop", "slim-exception"}
_CKPT_ANNOT_RE = re.compile(r"ckpt-grain:\s*([a-z][a-z-]*)")
_CKPT_WINDOW = 4  # annotation must sit on the call line or ≤4 lines above


def lint_checkpoint_grains(pkg_dir: str) -> tuple[list[dict], list[dict]]:
    """R8: scan package source for `.localCheckpoint(` call sites and
    require a grain annotation at each (see module docstring). Returns
    (findings, unused_annotations). Source-level by design: the
    physical plan cannot distinguish a checkpoint that is fatal under
    eviction from one that is not — only the author's grain claim can,
    so the lint pins the claim to the site and audits staleness."""
    findings: list[dict] = []
    unused: list[dict] = []
    root = os.path.dirname(pkg_dir.rstrip("/"))
    for path in sorted(glob.glob(os.path.join(pkg_dir, "**", "*.py"), recursive=True)):
        lines = open(path).read().splitlines()
        rel = os.path.relpath(path, root)
        call_idx = [
            i
            for i, line in enumerate(lines)
            if ".localCheckpoint(" in line.split("#", 1)[0]
        ]
        annots = {
            i: m.group(1)
            for i, line in enumerate(lines)
            if (m := _CKPT_ANNOT_RE.search(line))
        }
        for c in call_idx:
            tags = [annots[a] for a in range(max(0, c - _CKPT_WINDOW), c + 1) if a in annots]
            if not tags:
                findings.append(
                    {"rule": "R8-unannotated-localCheckpoint", "site": f"{rel}:{c + 1}"}
                )
            elif tags[-1] not in CKPT_GRAIN_TAGS:
                findings.append(
                    {
                        "rule": "R8-unknown-grain-tag",
                        "site": f"{rel}:{c + 1}",
                        "tag": tags[-1],
                    }
                )
        for a, tag in annots.items():
            if not any(a <= c <= a + _CKPT_WINDOW for c in call_idx):
                unused.append({"site": f"{rel}:{a + 1}", "tag": tag})
    return findings, unused


def compute_unused_allowlists(pattern_seen: dict[str, dict[str, bool]]) -> dict:
    """Allowlist entries whose checked plan no longer contains the
    exempted pattern — each is a lint blind spot (the rule could not
    catch a regression there). Names absent from pattern_seen (plan
    build failed / not oracle-backed) are skipped, never reported."""
    unused_many = sorted(
        n
        for n in ALLOW_MANY_EXCHANGES
        if n in pattern_seen and not pattern_seen[n]["over_default_exchanges"]
    )

    def oversized(n: str, cap: int) -> bool:
        # r8 ADVICE fix: a cap far above the observed Exchange count is
        # the same blind spot in degree — R4 cannot fire until the plan
        # grows past cap + 8, so a stale oversized cap (e.g. a plan that
        # shrank from 65 to 20 exchanges) leaves a silent window. A
        # right-sized cap IS the audited count, so flag cap > count + 8.
        # Entries already reported unused above (plan within the DEFAULT
        # cap) are not re-reported.
        if n not in pattern_seen or n in unused_many:
            return False
        obs = pattern_seen[n].get("n_exchanges")
        return obs is not None and cap > obs + 8

    return {
        "non_equi": sorted(
            n
            for n in ALLOW_NON_EQUI
            if n in pattern_seen and not pattern_seen[n]["cartesian"]
        ),
        "global_sort": sorted(
            n
            for n in ALLOW_GLOBAL_SORT
            if n in pattern_seen and not pattern_seen[n]["range_exchange"]
        ),
        "many_exchanges": unused_many,
        "oversized_exchange_caps": sorted(
            n for n, cap in ALLOW_MANY_EXCHANGES.items() if oversized(n, cap)
        ),
        "single_partition": sorted(
            n
            for n in ALLOW_SINGLE_PARTITION
            if n in pattern_seen
            and not pattern_seen[n]["unbounded_single_partition"]
        ),
        "window_sp": sorted(
            n
            for n in WINDOW_SP_EXPECTED
            if n in pattern_seen
            and not pattern_seen[n]["window_single_partition"]
        ),
    }


def write_snapshot(out: dict, path: str = "PLAN_LINT.json") -> int:
    """Print the run's summary and findings and return its exit code.

    Errors (queries that crashed at plan construction, or every query
    after a JVM that died mid-run) must fail the gate too — a broken
    query is NOT a clean lint — and they take precedence over findings
    so a crash is never masked by a co-occurring finding. An errored run
    exits 2 and leaves the committed snapshot at `path` as it was; any
    other run rewrites it and exits 1 on findings, 0 when clean."""
    print(
        json.dumps(
            {
                "checked": out["checked"],
                "n_findings": len(out["findings"]),
                "n_errors": len(out["errors"]),
            }
        )
    )
    for x in out["findings"]:
        print("FINDING", x)
    if out["errors"]:
        print(f"{len(out['errors'])} errors: {path} not written", file=sys.stderr)
        return 2
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    return 1 if out["findings"] else 0


def main() -> None:
    registry.load_all()
    spark = get_spark("plan-lint", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    oracle_backed = [n for n in registry.ordered_queries() if n in registry.ORACLES]
    findings: list[dict] = []
    errors: list[dict] = []
    # Allowlist dead-entry audit (r7, after the ALLOW_NON_EQUI
    # copy-paste finding): an exemption whose plan no longer contains
    # the exempted pattern is a lint blind spot — the rule could no
    # longer catch a regression there. Reported informationally in
    # PLAN_LINT.json (not a finding: plans are SF_DIR-specific).
    pattern_seen: dict[str, dict[str, bool]] = {}
    # R10: pin every table's schema first, so no query's count includes
    # the first load's inference job
    for t in TABLES:
        load(spark, SF_DIR, t)
    build_jobs: dict[str, int] = {}
    for name in oracle_backed:
        try:
            df, build_jobs[name] = count_build_jobs(
                spark, lambda: registry.QUERIES[name](spark, SF_DIR)
            )
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001 — lint must survive one bad query
            build_jobs.pop(name, None)
            errors.append({"query": name, "error": str(e)[:200]})
            continue
        findings.extend(lint_one(name, plan))
        # R9: wide-decimal -> double conversions (analyzed plan; see
        # module docstring — no allowlist, Literal children exempt)
        r9 = wide_decimal_casts(df)
        if r9:
            uniq = sorted({(h["child"], h["type"], h["name"]) for h in r9})
            findings.append(
                {
                    "rule": "R9-wide-decimal-cast",
                    "query": name,
                    "sites": [
                        {"child": c, "type": t, "name": n} for c, t, n in uniq
                    ],
                }
            )
        pattern_seen[name] = {
            "cartesian": "CartesianProduct" in plan
            or "BroadcastNestedLoopJoin" in plan,
            "range_exchange": "rangepartitioning(" in plan,
            "over_default_exchanges": plan.count("Exchange ") > 4 + 8,
            # actual count, so the audit can flag stale OVERSIZED caps
            # (not just entirely-dead entries) — r8 ADVICE fix
            "n_exchanges": plan.count("Exchange "),
            "unbounded_single_partition": unbounded_single_partition(plan),
            "window_single_partition": window_single_partition(plan),
        }
        spark.catalog.clearCache()
    # ---- pass 2: pre-checkpoint logical plans (r8 ADVICE) ----
    # localCheckpoint patched to identity so every checkpointed stage's
    # subtree prints in the final plan; only queries that USE the
    # checkpoint seam can differ, but rebuilding all keeps the pass
    # assumption-free. Errors here are real errors (same gate).
    # r13: on Spark 4 the facade class (pyspark.sql.DataFrame) is NOT
    # the instances' class — classic sessions build
    # pyspark.sql.classic.dataframe.DataFrame, which OVERRIDES
    # localCheckpoint, so patching only the facade left this pass
    # silently linting the same checkpoint-truncated plans as pass 1
    # (caught while capturing flattened before/after plan evidence for
    # the r13 optimization round). Patch both classes.
    from pyspark.sql import DataFrame as _DF
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    _orig_ckpt = _DF.localCheckpoint
    _orig_cckpt = _CDF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
    _CDF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]
    pre_seen: dict[str, dict[str, bool]] = {}
    try:
        for name in oracle_backed:
            try:
                df = registry.QUERIES[name](spark, SF_DIR)
                plan = formatted_plan(df)
            except Exception as e:  # noqa: BLE001
                # Known tool limitation, not a query bug (r13): with
                # checkpoints inlined to identity, the 5-round greedy
                # cover's self-referencing plan trips a Spark 4
                # optimizer validation bug (RemoveRedundantAliases →
                # PLAN_VALIDATION_FAILED_RULE_IN_BATCH) during EXPLAIN.
                # The real query never builds this plan — its rounds
                # are checkpoint-bounded — and it is oracle-green at
                # every SF. Recorded informationally, not as an error.
                if (
                    name == "corpus_greedy_source_cover"
                    and "PLAN_VALIDATION_FAILED_RULE_IN_BATCH" in str(e)
                ):
                    pre_seen[name] = {"inline_explain_unavailable": True}
                    continue
                errors.append(
                    {"query": name, "error": "precheckpoint: " + str(e)[:180]}
                )
                continue
            findings.extend(lint_one_precheckpoint(name, plan))
            # R9 on the checkpoint-flattened plan (r13): iterative
            # queries hide per-round casts behind localCheckpoint —
            # graph_pagerank_trade's mass sum was invisible to pass 1.
            r9p = wide_decimal_casts(df)
            if r9p:
                uniq = sorted({(h["child"], h["type"], h["name"]) for h in r9p})
                findings.append(
                    {
                        "rule": "R9-wide-decimal-cast-prechk",
                        "query": name,
                        "sites": [
                            {"child": c, "type": t, "name": n2}
                            for c, t, n2 in uniq
                        ],
                    }
                )
            pre_seen[name] = {
                "cartesian": "CartesianProduct" in plan
                or "BroadcastNestedLoopJoin" in plan,
                "unbounded_single_partition": unbounded_single_partition(plan),
            }
            spark.catalog.clearCache()
    finally:
        _DF.localCheckpoint = _orig_ckpt  # type: ignore[method-assign]
        _CDF.localCheckpoint = _orig_cckpt  # type: ignore[method-assign]

    # ---- R8: localCheckpoint grain annotations (source scan) ----
    pkg_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "leadsight_sales_agent_spark",
    )
    r8_findings, r8_unused = lint_checkpoint_grains(pkg_dir)
    findings.extend(r8_findings)

    unused_allowlist = compute_unused_allowlists(pattern_seen)
    unused_allowlist["ckpt_grain_annotations"] = r8_unused
    r10_findings, unused_allowlist["build_jobs"] = lint_build_jobs(build_jobs)
    findings.extend(r10_findings)
    # exact-allowlist audit for the pre-checkpoint lists: an entry is
    # unused when the flattened plan lacks the pattern OR the name is
    # already exempted by the main list (dead shadowing)
    unused_allowlist["non_equi_precheckpoint"] = sorted(
        n
        for n in ALLOW_NON_EQUI_PRECHECKPOINT
        if n in pre_seen
        and (not pre_seen[n]["cartesian"] or n in ALLOW_NON_EQUI)
    )
    unused_allowlist["single_partition_precheckpoint"] = sorted(
        n
        for n in ALLOW_SINGLE_PARTITION_PRECHECKPOINT
        if n in pre_seen
        and (
            not pre_seen[n]["unbounded_single_partition"]
            or n in ALLOW_SINGLE_PARTITION
        )
    )
    out = {
        "checked": len(oracle_backed),
        "unused_allowlist": unused_allowlist,
        "findings": findings,
        "errors": errors,
        # Per-query Exchange counts, committed every round so plan
        # growth is caught the round it happens (diff this dict against
        # the previous PLAN_LINT.json — the scripted form of the r8
        # ad-hoc all-registry exchange scan, r8 verdict task 7).
        "exchange_counts": {
            n: pattern_seen[n]["n_exchanges"] for n in sorted(pattern_seen)
        },
        # R10: Spark jobs fired while each query's DataFrame is built
        "build_jobs": {n: build_jobs[n] for n in sorted(build_jobs)},
    }
    code = write_snapshot(out)
    spark.stop()
    sys.exit(code)


if __name__ == "__main__":
    main()
