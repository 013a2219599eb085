"""Query registry: name -> (spark, sf_dir) -> DataFrame, plus oracle SQL.

Every graded operator registers here via the ``@query`` decorator. The
driver contract (``__spark_entry__.py``) simply re-exports these dicts.

Oracle SQL strings are ANSI SQL runnable by DuckDB over the same parquet
tables (pre-registered views: region nation customer supplier part orders
lineitem events documents embeddings). Queries without an oracle get a
rows-only check (used only for genuinely non-SQL-expressible operators:
LSH, streaming demos, mocked enrichment UDFs).

Column-name parity rule: every computed column is aliased identically in
the Spark code and the oracle SQL — the driver sorts columns by name
before hashing values.

Cache contract for multi-query sessions (r12, advisor note): queries
that persist() shared intermediates (the r11 eviction-safety wave —
see tools/plan_lint.py rule R8) do NOT unpersist before returning,
because the returned DataFrame is lazy and still needs the cached
frame when the CALLER executes it. A session that drives many queries
must therefore call `spark.catalog.clearCache()` between queries —
exactly what bench.py, tools/check_oracle.py, and tools/plan_lint.py
do — or data-proportional cache entries accumulate across queries.
`clearCache()` frees persist()ed frames only: the blocks of a
`localCheckpoint` stay registered with the SparkContext (see
`sc._jsc.getPersistentRDDs()`) until the session ends, so every run of
a query that checkpoints leaves them behind. Small scalar anchors are
therefore OVER () windows on the aggregated grain, not a checkpointed
frame cross-joined to its own 1-row totals.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Register a graded query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# The driver's correctness run records exactly the first 50 registry
# entries (observed r1 AND r2: 50 rows each). Registration order alone
# filled r2's window with relational+agg queries, leaving windows,
# set-ops, dedup, similarity, text, sampling, multimodal, and funnel
# with no driver row at all. The fix (r2 verdict, task 2): curate the
# first 50 as a cross-family panel — at least one oracle-backed anchor
# per SURVEY §2 family — so every family gets a driver-grade hash check
# every round. Queries whose failures were fixed but never
# driver-confirmed (ansi_try_safety_suite r2-red fix,
# window_session_30min_gap r1-red fix) are pinned in-window.
# r4 rotation (r3 verdict, task 2): every family anchor is now
# driver-green, most twice, so ~12 redundant slots (7 of the 9 join
# shapes, one of the two sampling splits, one setop, three basic
# relational/window shapes — all with 2+ driver-green rounds) rotate
# out in favor of high-value oracle-backed queries that have NEVER
# received a driver row: the TPC-H siblings, connected components,
# incremental dedup, the decontamination gate, split-leakage, SCD2,
# interval concurrency, and the regression aggregate. Rotated-out
# queries remain oracle-checked locally every round via
# tools/check_oracle.py.
# r5 rotation candidates (oracle-backed, still no driver row after r4;
# swap in once this round's 15 first-timers confirm green):
# tpch_q3/q6/q7/q8/q10/q12/q14/q15/q18, dedup_cluster_representatives,
# text_token_entropy, text_bpe_merge_candidates, reference_render_functions,
# mixture_token_budget_allocation, multimodal_dedup_binary,
# window_sliding_panes, plus the remaining never-graded long tail
# (see CORRECTNESS_r0* row history).
_PANEL_50 = [
    # r13 panel. r12 came back 47/50: the only reds in 12 rounds of
    # driver grading were eval_anova_f_oneway, eval_brown_forsythe_levene,
    # and forecast_theil_u2_accuracy — hash-only mismatches from the
    # wide-DECIMAL(38,0)->DOUBLE conversion being build-dependent in the
    # driver's DuckDB (SURVEY §8.2). Composition (r12 verdict task 3):
    # (a) the 12 oracle-backed queries that have NEVER received a
    #     driver row (the 4 judge-spot-ran stragglers + the 4 codec
    #     decode queries incl. r12's RLE8 + 4 rotation-priority misses),
    # (b) the 3 r12 reds, now rebuilt integer-exact / d53-converted —
    #     driver green here is the ONLY done-signal for that fix (they
    #     already passed locally while the driver failed them),
    # (c) the 15 queries whose report expressions changed in the r13
    #     d53 class-audit wave (every at-risk bare wide-decimal->double
    #     cast now routes through the deterministic split conversion in
    #     functions/numeric.py d53()/sql_d53()) — each needs a fresh
    #     driver row because its bytes changed since its last green,
    # (d) 4 r12 null-wave-touched re-confirmations (NULL o_orderdate /
    #     NULL ts contract queries the r12 panel did not cover), and
    # (e) 16 cross-family regression sentinels — one per SURVEY §2
    #     family not already covered above, previously driver-green,
    #     keeping every family in the driver window per
    #     test_panel_covers_every_family's intent.
    # Rotated-out queries stay oracle-checked locally every round via
    # tools/check_oracle.py.
    # --- (a) never-driver-graded residue (12)
    "agg_histogram_equidepth_localized",
    "dedup_exact_substring_coverage",
    "forecast_theta_method",
    "mixture_doremi_tilt",
    "multimodal_decode_bmp_stats",
    "multimodal_decode_pgm_stats",
    "multimodal_decode_ppm_stats",
    "multimodal_decode_rle_bmp_stats",
    "sample_dsir_importance",
    "storage_rle_sortedness_audit",
    "text_heaps_law_fit",
    "window_downsample_lttb",
    # --- (b) the 3 r12 reds, rebuilt (3)
    "eval_anova_f_oneway",
    "eval_brown_forsythe_levene",
    "forecast_theil_u2_accuracy",
    # --- (c) r13 d53-wave-touched (15)
    "ab_cuped_variance_reduction",
    "ab_power_mde_planner",
    "ab_tost_equivalence",
    "agg_skew_kurtosis_moments",
    "agg_theil_inequality_decomposition",
    "eval_auc_delong_ci",
    "eval_jarque_bera_normality",
    "eval_kruskal_wallis",
    "eval_welch_t_test",
    "forecast_acf_monthly",
    "storage_entropy_compression_bound",
    "timeseries_hurst_rs",
    "window_bollinger_bands",
    "window_parkinson_volatility",
    "window_zscore_rolling",
    # --- (d) r12 null-wave re-confirmations (4)
    "cohort_ltv_curve",
    "window_ewma_dyadic_smoothing",
    "funnel_windowed_deadline",
    "survival_logrank_test",
    # --- (e) cross-family sentinels (16 — r14 rotated
    #     setop_intersect_nations, twice driver-green, out for the
    #     wide-decimal canary below, so the count is unchanged; it
    #     stays oracle-checked locally)
    "join_asof_nearest_tolerance",
    "tpch_q19_disjunctive_revenue",
    "sketch_ddsketch_quantiles",
    "gaps_islands_event_days",
    # r14 (VERDICT r13 tasks 1/7): the permanent wide-decimal→double
    # conversion canary built in r13 finally gets its driver row —
    # alongside the three instrumented (b) reports it disambiguates
    # "conversion path diverges" from "report normalization diverges".
    "dq_wide_decimal_conversion_canary",
    "dedup_exact_documents",
    "dedup_fuzzy_levenshtein",
    "sample_stratified_lang",
    "knn_cosine_bruteforce",
    "text_tfidf_top_terms",
    "string_functions_suite",
    "json_props_extraction",
    "url_resolution_suite",
    "multimodal_metadata_stats",
    "text_c4_quality_gate",
    "corpus_curation_verdict",
]

# Rows-only (no-oracle) queries, cheapest first — the expensive demo
# pipelines (mock-transport enrich, streaming micro-batch runs) go last:
# any budget cut lands on the weakest signal (rows-only) instead of
# dropping hash-checked queries.
_ROWS_ONLY_COST_ORDER = [
    "agg_approx_count_distinct",
    "agg_approx_percentiles",
    "embedding_quantize_int8",
    "sketch_hll_mergeable",
    "sketch_misra_gries_heavy_hitters",
    "neardup_simhash",
    "kmeans_train_embeddings",  # 3 Lloyd iterations ≈ 5 s — after the one-pass sketches
    "embedding_pq_quantize",  # iterative PQ trainer (per-iteration collect jobs)
    "multimodal_feature_extract",
    "knn_cosine_lsh",
    "knn_cosine_ivf",
    "knn_cosine_ivf_pruned",
    "ann_recall_report",  # runs bruteforce + both ANN paths
    "neardup_minhash_lsh",
    "leakage_minhash_cross_split",  # 16x2 banding + full-corpus verify
    "streaming_progress_events",
    "streaming_static_enrich_join",
    "streaming_stream_stream_join",
    "streaming_dedup_watermarked",
    "leadsight_enrich_pipeline",
    "streaming_windowed_counts",
    "streaming_session_window_native",
    "streaming_user_totals_stateful",
    "streaming_sessionize_stateful",
]


def ordered_queries() -> dict[str, QueryFn]:
    """Registry in driver-check order: the curated 50-slot cross-family
    panel first, then the remaining oracle-backed queries in
    registration order, then rows-only queries cheapest-first."""
    panel = [n for n in _PANEL_50 if n in QUERIES]
    in_panel = set(panel)
    oracle_backed = [n for n in QUERIES if n in ORACLES and n not in in_panel]
    rows_only = [n for n in QUERIES if n not in ORACLES and n not in in_panel]
    rank = {n: i for i, n in enumerate(_ROWS_ONLY_COST_ORDER)}
    rows_only.sort(key=lambda n: rank.get(n, len(rank)))
    return {n: QUERIES[n] for n in [*panel, *oracle_backed, *rows_only]}


def run_query(name: str, spark: SparkSession, sf_dir: str):
    """Execute a registered query to completion and return its rows,
    then drop any cache entries it persisted.

    This is the structural close of the cache contract in the module
    docstring (r13, r12 verdict task 5): queries that persist() shared
    data-proportional frames cannot unpersist before returning (the
    returned DataFrame is lazy and still needs the cache when the
    caller executes it), so SOMEONE must clear between queries. The
    four in-repo harnesses call clearCache() themselves; a third-party
    caller can use this wrapper instead and never think about it.
    Callers that want the lazy DataFrame keep using QUERIES[name]
    directly — and then own the clearCache-between-queries duty."""
    df = QUERIES[name](spark, sf_dir)
    rows = df.collect()
    spark.catalog.clearCache()
    return rows


def load_all() -> None:
    """Import every operator module so decorators run (idempotent)."""
    import leadsight_sales_agent_spark.operators.relational  # noqa: F401
    import leadsight_sales_agent_spark.operators.aggregates  # noqa: F401
    import leadsight_sales_agent_spark.operators.windows  # noqa: F401
    import leadsight_sales_agent_spark.operators.setops  # noqa: F401
    import leadsight_sales_agent_spark.operators.dedup  # noqa: F401
    import leadsight_sales_agent_spark.operators.sampling  # noqa: F401
    import leadsight_sales_agent_spark.operators.behavior  # noqa: F401
    import leadsight_sales_agent_spark.operators.layout  # noqa: F401
    import leadsight_sales_agent_spark.operators.features  # noqa: F401
    import leadsight_sales_agent_spark.operators.graph  # noqa: F401
    import leadsight_sales_agent_spark.operators.similarity  # noqa: F401
    import leadsight_sales_agent_spark.operators.text  # noqa: F401
    import leadsight_sales_agent_spark.operators.multimodal  # noqa: F401
    import leadsight_sales_agent_spark.operators.enrich  # noqa: F401
    import leadsight_sales_agent_spark.streaming.demo  # noqa: F401
