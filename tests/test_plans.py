"""Physical-plan quality gates (the 100 TB design contract).

Correctness says the query returns the right rows; these tests pin HOW:
filters reach the parquet scan, projections prune columns, small
dimensions broadcast, aggregates run partial+final, and nothing
degenerates into a cartesian product or a global single-partition sort
unless that is the operator's documented semantics.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from leadsight_sales_agent_spark import registry
from leadsight_sales_agent_spark.plans import (
    formatted_plan,
    optimized_logical_plan,
    pushed_filters,
    simple_plan,
)

registry.load_all()


def plan_of(spark, sf_dir, name: str) -> str:
    return formatted_plan(registry.QUERIES[name](spark, sf_dir))


class TestScanHygiene:
    def test_flagship_pushes_filters_and_prunes_columns(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "flagship_revenue_by_segment_month")
        pushed = pushed_filters(plan)
        assert any("l_shipdate" in p for p in pushed), "shipdate range not pushed to scan"
        # lineitem has 16 columns; the query needs 4
        m = re.search(r"ReadSchema: struct<([^>]*l_extendedprice[^>]*)>", plan)
        assert m and m.group(1).count(":") <= 4, "lineitem scan not column-pruned"

    def test_filter_query_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "filter_compound_predicates")
        assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan.split(
            "Scan parquet"
        )[1].split("(2)")[0]


class TestJoinStrategy:
    @pytest.mark.parametrize(
        "name",
        [
            "flagship_revenue_by_segment_month",
            "join_inner_orders_customer",
            "join_left_customer_order_counts",
            "join_semi_customers_with_urgent_orders",
        ],
    )
    def test_dimension_joins_broadcast(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, f"{name}: dimension join did not broadcast"
        assert "CartesianProduct" not in plan

    def test_no_cartesian_outside_cross_join(self, spark, sf_dir):
        for name in ("join_range_price_brackets", "join_asof_purchase_last_click"):
            plan = plan_of(spark, sf_dir, name)
            assert "CartesianProduct" not in plan, f"{name} degenerated to cartesian"

    def test_tfidf_vocabulary_join_not_hinted_broadcast(self, spark, sf_dir):
        # The df (document-frequency) side is one row per distinct term —
        # an unbounded vocabulary at 100 TB. A broadcast HINT forces the
        # OOM plan at any scale; Catalyst choosing broadcast from size
        # STATS at tiny sf is fine (it flips to SMJ when stats grow), so
        # gate on the logical-plan hint, not the physical join pick.
        df = registry.QUERIES["text_tfidf_top_terms"](spark, sf_dir)
        logical = optimized_logical_plan(df)
        assert "strategy=broadcast" not in logical, "vocabulary join carries a broadcast hint"


class TestAggregation:
    def test_partial_final_hash_agg(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "agg_pricing_summary")
        # partial + final pair → two HashAggregate nodes around one Exchange
        assert plan.count("HashAggregate") >= 2
        assert "WholeStageCodegen" in plan or "*" in plan  # codegen'd

    def test_topk_uses_ordered_limit_not_global_sort(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "topk_orders_by_price")
        assert "TakeOrderedAndProject" in plan, "top-k should not globally sort"


class TestWindowHygiene:
    @pytest.mark.parametrize(
        "name",
        [
            "window_topk_orders_per_customer",
            "window_running_revenue_per_customer",
            "window_rank_lag_lead_events",
        ],
    )
    def test_windows_are_partitioned(self, spark, sf_dir, name):
        plan = simple_plan(registry.QUERIES[name](spark, sf_dir))
        # An unpartitioned window shows 'Window [...], [x ASC...]' with no
        # partition spec and Spark logs a perf WARN; cheap proxy: every
        # Window node must carry a partition expression list
        for line in plan.splitlines():
            if "Window [" in line and "windowspecdefinition" in line:
                assert re.search(r"\], \[[^\]]+\], \[", line), f"unpartitioned window: {line}"

    def test_per_group_topk_uses_group_limit(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "window_topk_orders_per_customer")
        # Spark ≥3.5 pushes rank<=k into WindowGroupLimit before the shuffle
        assert "WindowGroupLimit" in plan


class TestStorageLayout:
    def test_ivf_pruned_scan_uses_partition_pruning(self, spark, sf_dir):
        # The staged corpus is partitioned by cell and probed via a
        # broadcast join on the partition column → Catalyst injects a
        # dynamic-partition-pruning subquery into the scan, so only the
        # probed cells' files are read.
        plan = plan_of(spark, sf_dir, "knn_cosine_ivf_pruned")
        assert "PartitionFilters" in plan
        assert "dynamicpruning" in plan, "probe join did not trigger partition pruning"

    def test_bucketed_join_runs_without_exchange(self, spark, sf_dir):
        # Co-located join via bucketing: both sides bucketed by the join
        # key → sort-merge join with NO shuffle exchange on either side.
        from leadsight_sales_agent_spark.sources.catalog import load

        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice") \
            .write.bucketBy(8, "o_custkey").sortBy("o_custkey") \
            .mode("overwrite").saveAsTable("b_orders")
        load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment") \
            .write.bucketBy(8, "c_custkey").sortBy("c_custkey") \
            .mode("overwrite").saveAsTable("b_customer")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = spark.table("b_orders").join(
                spark.table("b_customer"),
                F.col("o_custkey") == F.col("c_custkey"),
            )
            plan = j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                j._jdf.queryExecution(), "formatted"
            )
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles"
            assert "SelectedBucketsCount" in plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_customer")


class TestTrainingPipelineOps:
    def test_bernoulli_sample_is_scan_plus_filter_no_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "sample_bernoulli_hash")
        assert "Exchange" not in plan, "hash sampling must not shuffle"
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and m.group(1).count(":") <= 3, "sample scan not column-pruned"

    def test_mixture_quota_uses_window_group_limit(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "sample_mixture_weighted_sources")
        assert "WindowGroupLimit" in plan, "quota not pushed below the sort"

    def test_chunking_and_redaction_are_map_only(self, spark, sf_dir):
        for name in ("text_chunk_documents", "text_pii_redaction"):
            plan = plan_of(spark, sf_dir, name)
            assert "Exchange" not in plan, f"{name} must not shuffle"
            assert "BatchEvalPython" not in plan, f"{name} must not use Python UDFs"

    def test_funnel_single_user_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "funnel_ordered_stages")
        # one hash-partitioning exchange on user_id + the 1-partition
        # exchange for the global 4-counter agg; chained-join forms
        # would show one exchange per funnel stage
        assert plan.count("Exchange hashpartitioning") <= 1
        assert "BatchEvalPython" not in plan

    def test_outlier_stats_join_broadcasts(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "outlier_zscore_orders")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        # the 5-row stats side must never sort-merge the fact table
        for line in plan.splitlines():
            if "Window" in line and "windowspecdefinition" in line:
                raise AssertionError("outliers must not use a whole-segment window")

    def test_centroids_partial_final_agg(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "embedding_centroids_by_label")
        assert plan.count("HashAggregate") >= 2, "centroid agg missing map-side partials"


class TestRuntimeFilters:
    def test_selective_dim_join_injects_bloom_or_dpp_filter(self, spark, sf_dir):
        """Runtime-filter awareness: joining a hard-filtered dimension
        to a big fact should inject a bloom filter (or semi-join
        runtime filter) into the fact scan so non-matching rows die at
        the scan, not at the join. This is a 100 TB lever: without it
        the fact side ships its full volume into the shuffle."""
        from leadsight_sales_agent_spark.sources.catalog import load

        prev_bloom = spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        )
        prev_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
            # the demo fact table is tiny; drop the application-side
            # size FLOOR so the optimizer applies the same rewrite it
            # would at scale. (creationSideThreshold is a CEILING on
            # the build side — lowering it disables the rule.)
            spark.conf.set(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
                "1B",
            )
            # force a shuffle join: broadcast joins don't need the filter
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            import pyspark.sql.functions as F

            cust = (
                load(spark, sf_dir, "customer")
                .filter(F.col("c_acctbal") > 9990)  # highly selective
                .select("c_custkey")
            )
            fact = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
            j = fact.join(cust, fact.o_custkey == cust.c_custkey)
            from leadsight_sales_agent_spark.plans import optimized_logical_plan

            logical = optimized_logical_plan(j)
            assert ("bloom_filter_agg" in logical) or ("might_contain" in logical), (
                "no runtime bloom filter injected:\n" + logical
            )
        finally:
            spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", prev_bloom)
            spark.conf.unset(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            )
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bcast)


class TestNewOperatorPlans:
    def test_q5_no_cartesian_and_date_pushed(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q5_local_supplier_volume")
        assert "CartesianProduct" not in plan
        assert any("o_orderdate" in p for p in pushed_filters(plan)), (
            "date range not pushed to the orders scan"
        )

    def test_inverted_index_partial_object_agg(self, spark, sf_dir):
        # collect_list aggregates via ObjectHashAggregate; the
        # partial+final pair proves map-side partial aggregation of
        # posting lists (vs a single final agg shuffling raw tokens)
        plan = plan_of(spark, sf_dir, "text_inverted_index")
        assert plan.count("ObjectHashAggregate") >= 2

    def test_correlated_subquery_is_decorrelated(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "correlated_subquery_low_quantity_parts")
        assert "scalar-subquery" not in plan, "subquery survived undecorrelated"
        assert plan.count("HashAggregate") >= 2  # the per-part avg became an agg

    def test_pattern_detection_no_self_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "pattern_error_after_purchase")
        for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert node not in plan, "pattern query must be join-free (lag pass)"


class TestRound2WaveTwoPlans:
    def test_fuzzy_levenshtein_is_equi_join(self, spark, sf_dir):
        # The (lang, bucket) blocking keys must drive a hash-based equi
        # join; a BNLJ/cartesian would mean the blocking collapsed and
        # the O(n·m) levenshtein runs over all pairs.
        plan = plan_of(spark, sf_dir, "dedup_fuzzy_levenshtein")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_q4_semi_join_with_date_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q4_priority_exists")
        assert "LeftSemi" in plan, "EXISTS did not plan as a semi join"
        assert any("o_orderdate" in p for p in pushed_filters(plan)), (
            "order-date window not pushed to the orders scan"
        )

    def test_q21_semi_then_anti(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q21_waiting_supplier")
        assert "LeftSemi" in plan and "LeftAnti" in plan
        assert "CartesianProduct" not in plan

    def test_market_basket_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "market_basket_part_pairs")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_mad_outliers_broadcasts_stats(self, spark, sf_dir):
        # The per-segment median/MAD frames are a handful of rows; the
        # join back to the fact side must broadcast them, not shuffle
        # the fact table twice more.
        plan = plan_of(spark, sf_dir, "outlier_mad_orders")
        assert "BroadcastHashJoin" in plan

    def test_zorder_single_aggregation_no_join(self, spark, sf_dir):
        # Pure scan → project (bit algebra) → one hash aggregate.
        plan = plan_of(spark, sf_dir, "zorder_locality_buckets")
        for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert node not in plan
        assert "HashAggregate" in plan

    def test_sweep_line_no_join(self, spark, sf_dir):
        # Union of ±1 deltas + aggregates + windows — a join would mean
        # the O(n²) overlap formulation snuck back in.
        plan = plan_of(spark, sf_dir, "interval_max_concurrency")
        for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert node not in plan
        assert "Union" in plan

    def test_range_interval_window_single_shuffle(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "window_range_interval_counts")
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 1, "range window should shuffle once"
        assert "Window" in plan


class TestFinalWavePlans:
    def test_topk_with_ties_group_limit_pushdown(self, spark, sf_dir):
        # rank() with a literal bound must still get WindowGroupLimit
        plan = plan_of(spark, sf_dir, "topk_orders_with_ties")
        assert "WindowGroupLimit" in plan

    def test_q13_two_hash_aggregations(self, spark, sf_dir):
        # agg-of-agg: per-customer counts then count distribution,
        # each with partial+final pairs
        plan = plan_of(spark, sf_dir, "tpch_q13_customer_distribution")
        assert plan.count("HashAggregate") >= 4

    def test_compaction_single_exchange(self, spark, sf_dir):
        # window + aggregate share the source partitioning; only the
        # repartition on `source` should shuffle
        plan = plan_of(spark, sf_dir, "compaction_bin_packing")
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 2, plan

    def test_fuzzy_dedup_repartitions_verify_stage(self, spark, sf_dir):
        # The explicit repartition before the levenshtein verify must
        # survive planning (AQE would otherwise single-task it)
        plan = plan_of(spark, sf_dir, "dedup_fuzzy_levenshtein")
        assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan or (
            "hashpartitioning" in plan and "32" in plan
        )


class TestNullSafeJoinPlan:
    def test_null_safe_eq_plans_as_hash_join(self, spark, sf_dir):
        # <=> must hash-partition like a plain equi key, never BNLJ
        plan = plan_of(spark, sf_dir, "join_null_safe_eq")
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "HashJoin" in plan or "SortMergeJoin" in plan

    def test_pit_join_broadcasts_history(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "scd2_point_in_time_join")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestFuzzyDedupPrefixCarry:
    def test_wide_stages_carry_prefixes_not_texts(self, spark, sf_dir):
        """The candidate join must gate on the 40-char prefixes (pushed
        into the join condition) and the full-text compare must appear
        only after the survivors rejoin texts by id — shipping full
        texts through the candidate shuffle measured 4x slower at
        sf0.1."""
        for q in ("dedup_fuzzy_levenshtein", "dedup_fuzzy_levenshtein_full"):
            plan = plan_of(spark, sf_dir, q)
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan
            assert re.search(r"levenshtein\(prefix_a#\d+, prefix_b#\d+, Some\(8\)\)", plan), q
            # full-text distance exists, and only at the 20-band verify
            texts = re.findall(r"levenshtein\(text_a#\d+, text_b#\d+, Some\((\d+)\)\)", plan)
            assert texts and set(texts) == {"20"}, (q, texts)


class TestR4Queries:
    def test_q6_all_predicates_pushed_no_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q6_forecast_revenue")
        pushed = " ".join(pushed_filters(plan))
        for col in ("l_shipdate", "l_discount", "l_quantity"):
            assert col in pushed, f"{col} not pushed to the lineitem scan"
        assert "Join" not in plan  # pure scan-filter-aggregate

    def test_q14_part_dim_broadcasts_fact_never_shuffles(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q14_promotion_effect")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    @pytest.mark.parametrize(
        "name",
        ["tpch_q3_shipping_priority", "tpch_q10_returned_items",
         "tpch_q18_large_volume_customer"],
    )
    def test_topk_tpch_use_ordered_limit(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "CartesianProduct" not in plan, name

    def test_pack_sequences_window_is_sharded(self, spark, sf_dir):
        # The prefix sum must run per shard, never as one global
        # single-partition window (the 100 TB bottleneck the shard key
        # exists to avoid).
        plan = simple_plan(
            registry.QUERIES["pack_sequences_token_budget"](spark, sf_dir)
        )
        for line in plan.splitlines():
            if "Window [" in line and "windowspecdefinition" in line:
                assert re.search(r"\], \[[^\]]+\], \[", line), (
                    f"unpartitioned window: {line}"
                )

    def test_curation_full_signals_broadcast_back(self, spark, sf_dir):
        # The two signal joins (contaminated / boilerplate doc-id sets)
        # must reach the verdict frame as broadcasts of the small
        # flagged side, not shuffle the corpus again.
        plan = plan_of(spark, sf_dir, "corpus_curation_full")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_leakage_minhash_band_join_is_equi(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "leakage_minhash_cross_split")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_token_budget_prefix_sum_partitions_by_source(self, spark, sf_dir):
        # The corpus-grain prefix-sum window must partition by source;
        # only the #sources-row budget ranking may run unpartitioned.
        plan = simple_plan(
            registry.QUERIES["mixture_token_budget_allocation"](spark, sf_dir)
        )
        windows = [
            line
            for line in plan.splitlines()
            if "Window [" in line and "windowspecdefinition" in line
        ]
        partitioned = [w for w in windows if re.search(r"\], \[[^\]]+\], \[", w)]
        # at least the corpus window is partitioned (sum over source)
        assert any("sum" in w for w in partitioned), windows

    @pytest.mark.parametrize(
        "name",
        ["tpch_q7_volume_shipping", "tpch_q8_market_share",
         "tpch_q15_top_supplier", "tpch_q12_late_shipments"],
    )
    def test_new_tpch_all_broadcast_no_cartesian(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


class TestR5TpchCompletion:
    """Plan gates for the round-5 TPC-H completions (Q2/Q9/Q16/Q19/Q20)."""

    @pytest.mark.parametrize(
        "name",
        ["tpch_q2_min_cost_supplier", "tpch_q9_product_type_profit",
         "tpch_q16_supplier_part_counts", "tpch_q19_disjunctive_revenue",
         "tpch_q20_promotion_suppliers"],
    )
    def test_no_cartesian_and_dims_broadcast(self, spark, sf_dir, name):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name

    def test_q2_correlated_min_window_is_partitioned(self, spark, sf_dir):
        # The per-part regional min must be a partkey-partitioned window
        # over the derived cost relation, never a global window.
        plan = simple_plan(
            registry.QUERIES["tpch_q2_min_cost_supplier"](spark, sf_dir)
        )
        for line in plan.splitlines():
            if "Window [" in line and "windowspecdefinition" in line:
                assert re.search(r"\], \[[^\]]+\], \[|partkey", line), (
                    f"unpartitioned window: {line}"
                )

    def test_q19_derived_prefilters_reach_both_scans(self, spark, sf_dir):
        # The OR-of-conjunctions can't push as-is; the implied local
        # bounds must still reach each scan (part: brand IN + size range,
        # lineitem: quantity range).
        plan = plan_of(spark, sf_dir, "tpch_q19_disjunctive_revenue")
        pushed = " ".join(pushed_filters(plan))
        assert "l_quantity" in pushed
        assert "p_brand" in pushed and "p_size" in pushed

    def test_q20_semi_join_and_date_pushdown(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpch_q20_promotion_suppliers")
        assert "LeftSemi" in plan
        pushed = " ".join(pushed_filters(plan))
        assert "l_shipdate" in pushed


class TestR5Sketches:
    def test_bloom_filter_broadcasts_to_probes(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "sketch_bloom_membership")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        pushed = " ".join(pushed_filters(plan))
        assert "o_totalprice" in pushed  # member-set filter reaches the scan

    def test_kmv_rank_window_partitions_by_event_type(self, spark, sf_dir):
        plan = simple_plan(
            registry.QUERIES["sketch_kmv_distinct_userdays"](spark, sf_dir)
        )
        ranks = [
            line
            for line in plan.splitlines()
            if "row_number()" in line and "windowspecdefinition" in line
        ]
        assert ranks and any("event_type" in line for line in ranks)

    def test_feature_scale_stats_broadcast_back(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "embedding_feature_scale")
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan


class TestR5Wave2:
    def test_repetition_signals_fully_map_side(self, spark, sf_dir):
        # r13 rewrite: every Gopher repetition signal is doc-local, so
        # the plan must be one map-side pass of array expressions —
        # no window, no shuffle, no explode (the r12 form re-ran the
        # explode + doc-window subtree once per gram width)
        plan = simple_plan(
            registry.QUERIES["text_repetition_signals"](spark, sf_dir)
        )
        assert "Window" not in plan
        assert "Exchange" not in plan
        assert "Generate" not in plan

    def test_cap_per_source_window_partitions_by_source(self, spark, sf_dir):
        plan = simple_plan(registry.QUERIES["sample_cap_per_source"](spark, sf_dir))
        ranks = [
            line
            for line in plan.splitlines()
            if "row_number()" in line and "windowspecdefinition" in line
        ]
        assert ranks and all("source" in line for line in ranks)

    def test_incremental_merge_no_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "incremental_agg_maintenance")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        pushed = " ".join(pushed_filters(plan))
        assert "o_orderdate" in pushed  # history/delta split reaches the scans

    def test_variant_is_single_scan_no_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "json_variant_extraction")
        assert "Join" not in plan

    def test_link_prediction_hub_cap_before_wedge(self, spark, sf_dir):
        plan = plan_of(
            spark, sf_dir, "graph_link_prediction_common_suppliers"
        )
        assert "CartesianProduct" not in plan
        assert "TakeOrderedAndProject" in plan


class TestR5Wave3:
    def test_stopword_ratios_truly_map_only(self, spark, sf_dir):
        # the docstring claims one scan, zero shuffles — hold it to that
        plan = plan_of(spark, sf_dir, "text_stopword_punct_ratio")
        assert "Exchange" not in plan
        assert "Join" not in plan
        assert plan.count("Scan parquet") == 2  # tree + details of ONE scan

    def test_q88_single_scan_no_join(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "tpcds_q88_time_band_counts")
        assert "Join" not in plan
        pushed = " ".join(pushed_filters(plan))
        assert "event_type" in pushed

    def test_q51_windows_over_month_grid_not_facts(self, spark, sf_dir):
        # the cumulative window must consume pre-aggregated month rows;
        # both fact scans feed HashAggregates BEFORE any Window node
        plan = plan_of(spark, sf_dir, "tpcds_q51_cumulative_compare")
        assert "CartesianProduct" not in plan
        first_window = plan.find("Window")
        assert first_window > 0
        assert plan.count("HashAggregate") >= 4  # partial+final per series

    def test_asof_forward_single_user_shuffle(self, spark, sf_dir):
        plan = simple_plan(
            registry.QUERIES["join_asof_forward_tolerance"](spark, sf_dir)
        )
        wins = [
            line
            for line in plan.splitlines()
            if "windowspecdefinition" in line
        ]
        assert wins and all("user_id" in line for line in wins)

    def test_attribution_reuses_user_partitioning(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "attribution_first_touch_session")
        assert "CartesianProduct" not in plan


class TestR5Session2Plans:
    def test_sql_udf_fully_inlined_no_python(self, spark, sf_dir):
        # the SQL scalar UDFs must vanish into Catalyst expressions:
        # no Python eval node, no UDF call survives optimization
        df = registry.QUERIES["sql_scalar_udf_suite"](spark, sf_dir)
        plan = formatted_plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        opt = optimized_logical_plan(df)
        assert "order_tier" not in opt and "pct_of" not in opt  # inlined away
        assert "CASE WHEN" in opt

    def test_skyline_phase1_windows_are_bucket_partitioned(self, spark, sf_dir):
        # phase 1 must not be a global sort: its windows carry the
        # bucket key; only phase 2 (over the pruned survivors) may run
        # a single-partition window
        df = registry.QUERIES["skyline_parts_pareto"](spark, sf_dir)
        plan = simple_plan(df)
        wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert wins
        bucketed = [l for l in wins if "_b" in l]
        assert len(bucketed) >= 2  # both phase-1 window tests stay bucketed

    def test_cogroup_is_arrow_cogrouped_map(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "cogroup_reconcile_orders_events")
        assert "FlatMapCoGroupsInPandas" in plan

    def test_collation_groups_with_one_exchange_no_python(self, spark, sf_dir):
        # collation changes the equality function, so Spark picks
        # SortAggregate over the collated key — but it is still ONE
        # exchange on the key and zero Python nodes
        plan = plan_of(spark, sf_dir, "collation_utf8_lcase_suite")
        assert "SortAggregate" in plan or "HashAggregate" in plan
        assert plan.count("Exchange") >= 1 and "EvalPython" not in plan

    def test_ohlc_is_single_aggregate_no_window(self, spark, sf_dir):
        # the candle must build via partial-mergeable min_by/max_by,
        # NOT the oracle's row_number windows
        plan = plan_of(spark, sf_dir, "ohlc_monthly_orders")
        assert "Window" not in plan
        assert "HashAggregate" in plan or "SortAggregate" in plan

    def test_twap_one_user_shuffle(self, spark, sf_dir):
        df = registry.QUERIES["twap_purchase_value_per_user"](spark, sf_dir)
        plan = simple_plan(df)
        wins = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert wins and all("user_id" in l for l in wins)

    def test_spatial_join_is_equi_hash_never_cartesian(self, spark, sf_dir):
        plan = plan_of(spark, sf_dir, "spatial_grid_neighbor_join")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Join" in plan  # the cell-key equi join survives

    def test_nested_struct_schema_pruning_reaches_scan(self, spark, sf_dir, tmp_path):
        # nested parquet: selecting one struct leaf must prune the scan
        # to that leaf (ReadSchema shows the nested subfield only)
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        docs = load(spark, sf_dir, "documents").select(
            "doc_id",
            F.struct(
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
                F.col("n_chars").alias("n_chars"),
            ).alias("meta"),
            "text",
        )
        out = str(tmp_path / "nested_docs")
        docs.write.parquet(out)
        df = spark.read.parquet(out).select("doc_id", "meta.lang")
        plan = formatted_plan(df)
        m = re.search(r"ReadSchema: struct<([^\n]*)>", plan)
        assert m, plan
        schema = m.group(1)
        assert "lang" in schema
        assert "text" not in schema  # whole wide column dropped
        assert "n_chars" not in schema  # sibling struct leaf pruned too


class TestAQESkewJoin:
    def test_skewed_partition_is_split_at_runtime(self, spark):
        """AQE's runtime skew-join split is the engine's skew
        mitigation (diag_join_skew_advisor names the hot keys; a
        manual salted join did not beat the split when measured, see
        SURVEY §8.12, and was removed). This gate proves the split is
        real: a 90%-one-key shuffle join executes with
        SortMergeJoin(skew=true) and an `AQEShuffleRead skewed` leaf —
        the skewed partition was split into advisory-sized chunks with
        the matching side duplicated, no code change required.

        (Empirical guard baked into this test: the split only applies
        when the join feeds no further exchange — a downstream global
        agg suppresses it — and local thresholds must be lowered to
        make a 40k-row fixture 'skewed'.)"""
        from pyspark.sql import functions as F

        tuned = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k) for k in tuned}
        try:
            for k, v in tuned.items():
                spark.conf.set(k, v)
            big = (
                spark.range(0, 40000)
                .withColumn(
                    "k",
                    F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(
                        F.col("id") % 500
                    ),
                )
                .withColumn("pay", F.md5(F.col("id").cast("string")))
            )
            dim = (
                spark.range(0, 500)
                .withColumnRenamed("id", "k2")
                .withColumn("attr", F.md5(F.col("k2").cast("string")))
            )
            j = big.join(dim, big.k == dim.k2).select("id", "k", "attr")
            assert len(j.collect()) == 40000
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan
            assert "AQEShuffleRead skewed" in plan
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)


class TestCacheTable:
    def test_cached_view_serves_from_memory_and_matches(self, spark, sf_dir):
        from pyspark.sql import functions as F

        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        df.createOrReplaceTempView("orders_cache_gate")
        spark.sql("CACHE TABLE orders_cache_gate")
        try:
            agg = spark.sql(
                "SELECT o_orderpriority AS p, count(*) AS n "
                "FROM orders_cache_gate GROUP BY 1"
            )
            cached_rows = {r["p"]: r["n"] for r in agg.collect()}
            plan = agg._jdf.queryExecution().executedPlan().toString()
            # Spark 4 renders the cache hit as a TableCacheQueryStage
            # wrapping "Scan In-memory table" (not InMemoryTableScan)
            assert "TableCacheQueryStage" in plan or "In-memory table" in plan
            direct = {
                r["p"]: r["n"]
                for r in df.groupBy(F.col("o_orderpriority").alias("p"))
                .agg(F.count("*").alias("n"))
                .collect()
            }
            assert cached_rows == direct
        finally:
            spark.sql("UNCACHE TABLE orders_cache_gate")


class TestToArrow:
    def test_to_arrow_round_trip(self, spark, sf_dir):
        df = spark.read.parquet(f"{sf_dir}/nation.parquet").orderBy("n_nationkey")
        tbl = df.toArrow()
        assert tbl.num_rows == df.count()
        assert tbl.column_names == df.columns
        assert [v.as_py() for v in tbl.column("n_nationkey")] == [
            r["n_nationkey"] for r in df.collect()
        ]


class TestCostBasedOptimizer:
    def test_analyze_statistics_feed_the_optimizer(self, spark, sf_dir):
        """ANALYZE TABLE wires table/column statistics into Catalyst:
        rowCount appears in the catalog and the optimized plan's
        cardinality estimate, and with CBO on, a filtered join side is
        estimated from column stats instead of raw file size — the
        mechanism that flips join strategy/order at 100 TB, where file
        size wildly over-estimates a post-filter build side."""
        from leadsight_sales_agent_spark.sources.catalog import load

        spark.sql("DROP TABLE IF EXISTS stats_orders")
        load(spark, sf_dir, "orders").write.mode("overwrite").saveAsTable("stats_orders")
        prev_cbo = spark.conf.get("spark.sql.cbo.enabled", "false")
        try:
            spark.sql("ANALYZE TABLE stats_orders COMPUTE STATISTICS")
            spark.sql(
                "ANALYZE TABLE stats_orders COMPUTE STATISTICS "
                "FOR COLUMNS o_orderkey, o_orderpriority"
            )
            detail = spark.sql("DESCRIBE TABLE EXTENDED stats_orders").collect()
            stats_row = [r for r in detail if r["col_name"] == "Statistics"]
            assert stats_row and "rows" in stats_row[0]["data_type"], (
                "ANALYZE did not record a row count in the catalog"
            )
            n = spark.table("stats_orders").count()
            assert f"{n} rows" in stats_row[0]["data_type"]

            spark.conf.set("spark.sql.cbo.enabled", "true")
            df = spark.table("stats_orders")
            est = (
                df._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
                .rowCount()
            )
            assert est.isDefined() and int(str(est.get())) == n, (
                "optimizer cardinality estimate does not use analyzed rowCount"
            )
            # Column histogram/NDV drives filter selectivity: a 1-of-5
            # priority filter must estimate well below the full count.
            flt = df.filter(F.col("o_orderpriority") == "1-URGENT")
            fest = (
                flt._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
                .rowCount()
            )
            assert fest.isDefined() and int(str(fest.get())) < n * 0.6, (
                "column stats not used for filter selectivity"
            )
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
            spark.sql("DROP TABLE IF EXISTS stats_orders")


class TestJoinHints:
    """The four join-strategy hints are the manual override surface for
    the rare plan Catalyst/AQE gets wrong at scale (e.g. a "small" side
    whose post-filter size estimate is stale). Each hint must actually
    flip the physical strategy."""

    def _join(self, spark, sf_dir, hint):
        from leadsight_sales_agent_spark.sources.catalog import load

        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        if hint:
            c = c.hint(hint)
        j = o.join(c, o.o_custkey == c.c_custkey)
        return j._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            j._jdf.queryExecution(), "formatted"
        )

    def test_broadcast_hint(self, spark, sf_dir):
        assert "BroadcastHashJoin" in self._join(spark, sf_dir, "broadcast")

    def test_shuffle_hash_hint(self, spark, sf_dir):
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            assert "ShuffledHashJoin" in self._join(spark, sf_dir, "shuffle_hash")
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_merge_hint(self, spark, sf_dir):
        assert "SortMergeJoin" in self._join(spark, sf_dir, "merge")

    def test_shuffle_replicate_nl_degrades_equi_join_to_cartesian(self, spark, sf_dir):
        # pin the FOOTGUN: Spark honors shuffle_replicate_nl even on an
        # equi-join, degrading it to CartesianProduct + post-filter —
        # O(n*m) row pairs. This is why no operator in this repo ever
        # emits the hint; the test documents the behavior so nobody
        # "optimizes" a join with it.
        plan = self._join(spark, sf_dir, "shuffle_replicate_nl")
        assert "CartesianProduct" in plan


class TestRound6Plans:
    def test_holt_winters_lag_terms_fuse(self, spark, sf_dir):
        # all 64 lag terms must fuse into ONE WindowExec (plus the
        # row_number and partition-count windows sharing its exchange)
        # — a per-coefficient window would be a 64-pass disaster at
        # scale, and a per-window re-shuffle would be worse
        plan = plan_of(spark, sf_dir, "holt_winters_seasonal_smoothing")
        n_windows = len(re.findall(r"\(\d+\) Window\b", plan))
        assert n_windows <= 3, f"{n_windows} Window nodes — lags did not fuse"
        n_exchanges = len(re.findall(r"\(\d+\) Exchange\b", plan))
        assert n_exchanges <= 2, f"{n_exchanges} exchanges"
        assert "CartesianProduct" not in plan

    def test_watermark_audit_broadcasts_the_batch_table(self, spark, sf_dir):
        # the watermark table is batch-grain (bounded); it must broadcast
        # back onto the arrivals, never shuffle the fact side for it
        plan = plan_of(spark, sf_dir, "streaming_watermark_eviction_audit")
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_release_pipeline_stitches_with_semi_joins(self, spark, sf_dir):
        # the 3 stage stitches are LeftSemi joins; no stage may
        # degenerate into a cartesian product
        plan = plan_of(spark, sf_dir, "pipeline_full_release")
        assert plan.count("LeftSemi") >= 3
        assert "CartesianProduct" not in plan

    def test_incremental_prefix_join_broadcasts_delta(self, spark, sf_dir):
        # candidate generation must broadcast the (small) delta prefix
        # side — candidates scale with the batch, not the corpus
        plan = plan_of(spark, sf_dir, "neardup_incremental_prefix_join")
        assert "BroadcastHashJoin" in plan

    def test_bootstrap_partial_aggregates_before_shuffle(self, spark, sf_dir):
        # the x100 explode must collapse map-side: partial+final
        # HashAggregate around one exchange at (priority, replica) grain
        plan = plan_of(spark, sf_dir, "bootstrap_poisson_ci_mean")
        assert plan.count("HashAggregate") >= 2
        assert "CartesianProduct" not in plan


class TestPlanLintNonEquiProperty:
    """r14 (ADVICE r13): ALLOW_NON_EQUI_PRECHECKPOINT's claimed
    bounded-anchor property is verified mechanically per plan, not
    trusted per name — pin the detector's both directions."""

    def _lint(self):
        import importlib.util
        import os

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "plan_lint.py",
        )
        spec = importlib.util.spec_from_file_location("plan_lint_mod", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_unbounded_cross_join_is_flagged(self):
        pl = self._lint()
        bad = (
            "== Physical Plan ==\n"
            "CartesianProduct (3)\n"
            ":- Scan parquet  (1)\n"
            "+- Scan parquet  (2)\n\n"
        )
        assert pl.nonequi_join_unbounded(bad)

    def test_range_leaf_does_not_bound_a_cross_join(self):
        # spark.range(n) can have any cardinality, so a Range leaf is
        # no bounded side
        pl = self._lint()
        bad = (
            "== Physical Plan ==\n"
            "BroadcastNestedLoopJoin (4)\n"
            ":- Scan parquet  (1)\n"
            "+- BroadcastExchange (3)\n"
            "   +- Range (2)\n\n"
        )
        assert pl.nonequi_join_unbounded(bad)

    def test_bounded_broadcast_anchor_passes(self):
        pl = self._lint()
        good = (
            "== Physical Plan ==\n"
            "BroadcastNestedLoopJoin (4)\n"
            ":- Scan parquet  (1)\n"
            "+- BroadcastExchange (3)\n"
            "   +- HashAggregate (2)\n\n"
        )
        assert not pl.nonequi_join_unbounded(good)

    def test_allowlisted_violation_still_fails_lint(self):
        pl = self._lint()
        name = sorted(pl.ALLOW_NON_EQUI_PRECHECKPOINT)[0]
        bad = (
            "== Physical Plan ==\n"
            "CartesianProduct (3)\n"
            ":- Scan parquet  (1)\n"
            "+- Scan parquet  (2)\n\n"
        )
        findings = pl.lint_one_precheckpoint(name, bad)
        assert any(
            f["rule"] == "R1-cartesian-prechk-unbounded" for f in findings
        )
