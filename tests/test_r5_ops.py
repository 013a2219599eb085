"""Round-5 operator invariants (oracle equality runs via
tools/check_oracle.py; these pin properties the hash can't express)."""

from __future__ import annotations

import re

from hypothesis import HealthCheck, Phase, given, settings
from hypothesis import strategies as st

from leadsight_sales_agent_spark import registry

registry.load_all()


class TestImputation:
    def test_all_holes_filled_with_in_group_values(self, spark, sf_dir):
        rows = registry.QUERIES["impute_group_median_balance"](
            spark, sf_dir
        ).collect()
        assert all(r["bal_imputed"] is not None for r in rows)
        imputed = [r for r in rows if r["was_imputed"] == 1]
        assert imputed and all(r["c_custkey"] % 7 == 0 for r in imputed)
        # the imputed value is an element of the group's observed values
        by_seg = {}
        for r in rows:
            if r["was_imputed"] == 0:
                by_seg.setdefault(r["segment"], set()).add(r["bal_imputed"])
        for r in imputed:
            assert r["bal_imputed"] in by_seg[r["segment"]]


class TestBasketRules:
    def test_confidence_and_lift_bounds(self, spark, sf_dir):
        rows = registry.QUERIES["market_basket_rules"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert 0 < r["conf_ab_bp"] <= 10000
            assert 0 < r["conf_ba_bp"] <= 10000
            assert r["s_ab"] <= min(r["s_a"], r["s_b"])
            assert r["lift_bp"] > 0


class TestKFold:
    def test_folds_disjoint_and_exhaustive(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["sample_kfold_assignment"](spark, sf_dir).collect()
        folds = sorted(r["fold"] for r in rows)
        assert folds == [0, 1, 2, 3, 4]
        total = load(spark, sf_dir, "documents").count()
        assert sum(r["n_docs"] for r in rows) == total  # no loss, no overlap


class TestKmvIntersection:
    def test_estimates_within_sketch_error(self, spark, sf_dir):
        row = registry.QUERIES["sketch_kmv_intersection"](spark, sf_dir).collect()[0]
        # KMV relative error ~ 1/sqrt(64) = 12.5%; allow 4 sigma on the
        # union (the per-side estimates feed inclusion-exclusion, so
        # est_inter inherits up to ~3x that and is only sanity-bounded)
        assert row["est_union"] > 0
        assert row["est_inter"] >= 0
        assert row["true_inter"] >= 0


# reference: trigrams by index sequence (an interpreted lambda)
_LAMBDA_TRIGRAMS_SQL = "transform(sequence(1, length(tx) - 2), i -> substring(tx, i, 3))"
_TRIGRAM_CHARS = st.one_of(
    st.sampled_from(
        [
            "a", "b", " ", "\r", "\n", "\u00a0",  # ASCII, CR/LF, NBSP
            "\u0301", "\u0308",  # combining marks
            "中", "文", "字",  # CJK
            "😀", "👍", "\U0001f3fd",  # supplementary (surrogate pairs)
        ]
    ),
    st.characters(blacklist_categories=("Cs",)),
)


class TestTrigramLm:
    def test_scores_are_negative_log_probs(self, spark, sf_dir):
        rows = registry.QUERIES["text_trigram_lm_score"](spark, sf_dir).collect()
        assert rows and all(r["avg_logp_micro"] <= 0 for r in rows)
        assert all(r["n_trigrams"] > 0 for r in rows)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=list(HealthCheck),
        phases=[Phase.explicit, Phase.reuse, Phase.generate],  # no shrinking
    )
    @given(st.lists(st.text(alphabet=_TRIGRAM_CHARS, max_size=12), min_size=1, max_size=40))
    def test_regex_trigrams_match_lambda_trigrams(self, spark, texts):
        """The regex explode yields the index-sequence form's trigrams as
        a multiset (the query filters length >= 3 first, below which the
        lambda form's descending sequence invents short fragments)."""
        from collections import Counter

        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.operators.text import CHAR_TRIGRAMS_SQL

        rows = (
            spark.createDataFrame(list(enumerate(texts)), "i INT, tx STRING")
            .select(
                "i",
                F.length("tx").alias("n"),
                F.expr(CHAR_TRIGRAMS_SQL).alias("new"),
                F.expr(_LAMBDA_TRIGRAMS_SQL).alias("old"),
            )
            .collect()
        )
        for r in rows:
            tx = texts[r["i"]]
            assert r["n"] == len(tx), (tx, r["n"])
            want = Counter(r["old"]) if r["n"] >= 3 else Counter()
            assert Counter(r["new"]) == want, (tx, r["new"], r["old"])
            assert r["new"] == [tx[j : j + 3] for j in range(len(tx) - 2)], (tx, r["new"])

    def test_trigram_explode_has_no_lambda(self, spark, sf_dir):
        from leadsight_sales_agent_spark.plans import formatted_plan

        plan = formatted_plan(registry.QUERIES["text_trigram_lm_score"](spark, sf_dir))
        gen = [ln for ln in plan.splitlines() if "explode(" in ln]
        assert gen, plan
        for ln in gen:
            assert "regexp_extract_all" in ln and "lambdafunction" not in ln, ln
        spark.catalog.clearCache()


class TestTimezone:
    def test_72_groups_and_hour_domain(self, spark, sf_dir):
        rows = registry.QUERIES["datetime_timezone_suite"](spark, sf_dir).collect()
        assert len(rows) == 72  # 3 zones x 24 local hours (one month of events)
        assert {r["tz"] for r in rows} == {
            "America/New_York", "Asia/Tokyo", "Europe/Berlin",
        }
        assert all(0 <= r["local_hour"] <= 23 for r in rows)


class TestMergeWithDeletes:
    def test_tombstones_gone_updates_flagged(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["merge_full_with_deletes"](spark, sf_dir).collect()
        keys = {r["orderkey"] for r in rows}
        assert not any(k % 13 == 0 for k in keys)  # every tombstone applied
        updated = {r["orderkey"] for r in rows if r["was_updated"] == 1}
        assert updated and all(k % 7 == 0 and k % 13 != 0 for k in updated)
        base_n = load(spark, sf_dir, "orders").count()
        tomb_n = sum(
            1
            for (k,) in load(spark, sf_dir, "orders")
            .select("o_orderkey")
            .collect()
            if k % 13 == 0
        )
        assert len(rows) == base_n - tomb_n  # pass-through keeps the rest


class TestPercentileDisc:
    def test_picked_values_are_order_statistics(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["agg_percentile_disc_prices"](spark, sf_dir).collect()
        li = load(spark, sf_dir, "lineitem")
        for r in rows:
            vals = sorted(
                x["l_extendedprice"]
                for x in li.filter(
                    li.l_returnflag == r["l_returnflag"]
                ).select("l_extendedprice").collect()
            )
            n = len(vals)
            assert r["p25_disc"] == vals[(n + 3) // 4 - 1]
            assert r["p50_disc"] == vals[(n + 1) // 2 - 1]
            assert r["p75_disc"] == vals[(3 * n + 3) // 4 - 1]
            assert r["p25_disc"] <= r["p50_disc"] <= r["p75_disc"]


class TestSkyline:
    def test_matches_bruteforce_dominance(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        econ = [
            (r["p_partkey"], r["p_retailprice"], r["p_size"])
            for r in load(spark, sf_dir, "part")
            .filter("p_type = 'ECONOMY'")
            .collect()
        ]
        # independent quadratic reference, strict Pareto dominance
        expected = {
            k
            for k, pr, sz in econ
            if not any(
                (pr2 <= pr and sz2 <= sz and (pr2 < pr or sz2 < sz))
                for _, pr2, sz2 in econ
            )
        }
        got = {
            r["p_partkey"]
            for r in registry.QUERIES["skyline_parts_pareto"](spark, sf_dir).collect()
        }
        assert got == expected and got

    def test_frontier_is_antichain(self, spark, sf_dir):
        rows = registry.QUERIES["skyline_parts_pareto"](spark, sf_dir).collect()
        pts = [(r["p_retailprice"], r["p_size"]) for r in rows]
        for i, (pr, sz) in enumerate(pts):
            for j, (pr2, sz2) in enumerate(pts):
                if i != j:
                    assert not (pr2 <= pr and sz2 <= sz and (pr2 < pr or sz2 < sz))


class TestSqlScalarUdf:
    def test_shares_sum_to_about_100(self, spark, sf_dir):
        rows = registry.QUERIES["sql_scalar_udf_suite"](spark, sf_dir).collect()
        assert {r["tier_label"] for r in rows} <= {"tier_low", "tier_mid", "tier_high"}
        total_pct = sum(r["pct_share"] for r in rows)
        # half-up integer percents: off-by-rounding only
        assert abs(total_pct - 100) <= len(rows)


class TestCollation:
    def test_collation_merges_binary_distinct_spellings(self, spark, sf_dir):
        rows = registry.QUERIES["collation_utf8_lcase_suite"](spark, sf_dir).collect()
        assert rows
        # every displayed key is lowercase; at least one group actually
        # merged multiple raw spellings (the synthesized mixed case)
        assert all(r["lang_ci"] == r["lang_ci"].lower() for r in rows)
        assert max(r["n_case_variants"] for r in rows) > 1


class TestCogroupReconcile:
    def test_spot_check_against_direct_aggregates(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        out = {
            r["customer_id"]: r
            for r in registry.QUERIES["cogroup_reconcile_orders_events"](
                spark, sf_dir
            ).collect()
        }
        orders = (
            load(spark, sf_dir, "orders")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        assert orders
        for r in orders[:20]:
            assert out[r["o_custkey"]]["n_orders"] == r["n"]
        for r in out.values():
            assert r["gap_micro"] == r["order_micro"] - r["event_micro"]


class TestOhlc:
    def test_candles_are_internally_consistent(self, spark, sf_dir):
        rows = registry.QUERIES["ohlc_monthly_orders"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["low"] <= r["open"] <= r["high"]
            assert r["low"] <= r["close"] <= r["high"]
            assert r["volume"] >= 1
            if r["volume"] == 1:
                assert r["open"] == r["close"] == r["high"] == r["low"]


class TestTwap:
    def test_twap_between_min_and_max_value(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        out = registry.QUERIES["twap_purchase_value_per_user"](spark, sf_dir).collect()
        assert out
        bounds = {
            r["user_id"]: r
            for r in load(spark, sf_dir, "events")
            .filter("event_type = 'purchase'")
            .groupBy("user_id")
            .agg(
                F.min((F.col("value").cast("decimal(25,2)") * 100).cast("long")).alias("lo"),
                F.max((F.col("value").cast("decimal(25,2)") * 100).cast("long")).alias("hi"),
            )
            .collect()
        }
        for r in out:
            b = bounds[r["user_id"]]
            # the held (non-last) values bound the weighted mean; the
            # excluded last value can only widen the global min/max
            assert b["lo"] - 1 <= r["twap_cents"] <= b["hi"] + 1
            assert r["total_ms"] > 0 and r["n_segments"] >= 1


class TestMarkov:
    def test_rows_sum_to_about_10000_bp(self, spark, sf_dir):
        rows = registry.QUERIES["markov_event_transitions"](spark, sf_dir).collect()
        assert rows
        by_from = {}
        for r in rows:
            by_from.setdefault(r["from_event"], []).append(r)
        for fr, rs in by_from.items():
            total_bp = sum(r["p_bp"] for r in rs)
            assert abs(total_bp - 10000) <= len(rs)  # half-up rounding slack
            assert all(r["n_transitions"] > 0 for r in rs)


class TestSeasonalNaive:
    def test_forecast_is_lag12_actual(self, spark, sf_dir):
        rows = registry.QUERIES["forecast_seasonal_naive_backtest"](
            spark, sf_dir
        ).collect()
        assert rows
        actual = {r["month"]: r["actual_cents"] for r in rows}
        for r in rows:
            y, m = map(int, r["month"].split("-"))
            prior = f"{y - 1:04d}-{m:02d}"
            if prior in actual:
                assert r["forecast_cents"] == actual[prior]
            assert r["abs_err_cents"] == abs(r["actual_cents"] - r["forecast_cents"])


class TestJoinIvm:
    def test_delta_terms_partition_the_full_join(self, spark, sf_dir):
        # every (order, customer) matched pair lands in exactly one of
        # the four old/new terms — spot-check via total count conservation
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        out = registry.QUERIES["incremental_join_maintenance"](spark, sf_dir).collect()
        n_total = sum(r["n_orders"] for r in out)
        o = load(spark, sf_dir, "orders")
        c = load(spark, sf_dir, "customer")
        direct = o.join(c, o.o_custkey == c.c_custkey).count()
        assert n_total == direct


class TestRrfFusion:
    def test_fused_rank_consistent_and_bounded(self, spark, sf_dir):
        rows = registry.QUERIES["retrieval_rrf_fusion"](spark, sf_dir).collect()
        assert rows
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["fused_rank"])
            scores = [r["rrf_micro"] for r in rs]
            assert scores == sorted(scores, reverse=True)
            for r in rs:
                # contribution bound: two lists, best rank 1 each
                assert 0 < r["rrf_micro"] <= 2 * (10**6 // 61)
                assert r["rank_cos"] >= 1 and r["rank_l2"] >= 1


class TestMisraGries:
    def test_mg_guarantees_vs_exact_counts(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.operators.aggregates import (
            MG_K,
            _mg_skewed_keys,
            misra_gries_partials,
        )
        from leadsight_sales_agent_spark.sources.catalog import load

        keys = _mg_skewed_keys(load(spark, sf_dir, "lineitem"))
        n = keys.count()
        true = {r["k"]: r["c"] for r in keys.groupBy("k").agg(F.count("*").alias("c")).collect()}
        merged = {
            r["k"]: r["lb"]
            for r in misra_gries_partials(keys)
            .groupBy("k")
            .agg(F.sum("lb").alias("lb"))
            .collect()
        }
        err_bound = n // (MG_K + 1) + 1
        for k, lb in merged.items():
            assert lb <= true[k], "MG counter overestimates"
            assert true[k] - lb <= err_bound, "MG error bound violated"
        # coverage: every true heavy hitter above n/(k+1) must survive
        heavy = {k for k, c in true.items() if c > n // (MG_K + 1)}
        assert heavy, "test corpus has no heavy hitters — vacuous"
        assert heavy <= set(merged), "a guaranteed-heavy key was evicted"

    def test_query_shape_and_flag_soundness(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.operators.aggregates import (
            MG_K,
            _mg_skewed_keys,
        )
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["sketch_misra_gries_heavy_hitters"](
            spark, sf_dir
        ).collect()
        assert rows
        keys = _mg_skewed_keys(load(spark, sf_dir, "lineitem"))
        n = keys.count()
        true = {r["k"]: r["c"] for r in keys.groupBy("k").agg(F.count("*").alias("c")).collect()}
        for r in rows:
            if r["guaranteed_heavy"]:
                assert true[r["key"]] > n // (MG_K + 1)


class TestSpatialGridJoin:
    def test_matches_bruteforce_pairs(self, spark, sf_dir):
        from leadsight_sales_agent_spark.operators.relational import (
            GRID_R,
            GRID_SPAN,
        )

        rows = registry.QUERIES["spatial_grid_neighbor_join"](spark, sf_dir).collect()
        got = {(r["id_a"], r["id_b"]): r["dist2"] for r in rows}
        # independent Python reference: same md5-derived geometry
        import hashlib

        from leadsight_sales_agent_spark.sources.catalog import load

        ids = [r["c_custkey"] for r in load(spark, sf_dir, "customer").collect()]

        def coord(prefix, k):
            h = hashlib.md5(f"{prefix}{k}".encode()).hexdigest()[:4]
            return int(h, 16) % GRID_SPAN

        pts = {k: (coord("sx", k), coord("sy", k)) for k in ids}
        expected = {}
        ks = sorted(pts)
        for i, a in enumerate(ks):
            xa, ya = pts[a]
            for b in ks[i + 1:]:
                xb, yb = pts[b]
                d2 = (xa - xb) ** 2 + (ya - yb) ** 2
                if d2 <= GRID_R * GRID_R:
                    expected[(a, b)] = d2
        assert got == expected and got


class TestClampedBalance:
    def test_reflection_identity_equals_sequential_fold(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        moves = (
            load(spark, sf_dir, "lineitem")
            .selectExpr(
                "l_partkey",
                "unix_micros(l_shipdate) AS sd",
                "l_orderkey",
                "l_linenumber",
                "CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS LONG) "
                "ELSE -CAST(l_quantity AS LONG) END AS delta",
            )
            .collect()
        )
        per_part = {}
        for r in moves:
            per_part.setdefault(r["l_partkey"], []).append(r)
        expected = {}
        for pk, rs in per_part.items():
            rs.sort(key=lambda r: (r["sd"], r["l_orderkey"], r["l_linenumber"]))
            b = peak = stockouts = 0
            for r in rs:
                nxt = b + r["delta"]
                if nxt < 0:
                    nxt = 0
                if nxt == 0 and r["delta"] < 0:
                    stockouts += 1
                b = nxt
                peak = max(peak, b)
            expected[pk] = (len(rs), peak, b, stockouts)
        got = {
            r["partkey"]: (r["n_moves"], r["peak_balance"], r["end_balance"], r["n_stockouts"])
            for r in registry.QUERIES["inventory_clamped_running_balance"](
                spark, sf_dir
            ).collect()
        }
        assert got == expected


class TestEvalMetrics:
    def test_auc_matches_sklearn_free_reference(self, spark, sf_dir):
        # independent O(n log n) python reference with midrank ties
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = (
            load(spark, sf_dir, "events")
            .filter("value IS NOT NULL")
            .selectExpr(
                "CAST(CAST(value AS DECIMAL(25,2)) * 100 AS LONG) AS s",
                "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y",
            )
            .collect()
        )
        pairs = sorted((r["s"], r["y"]) for r in rows)
        # midranks over the sorted scores
        u2 = 0
        i = 0
        nn_lt = 0
        n_pos = sum(y for _, y in pairs)
        n_neg = len(pairs) - n_pos
        while i < len(pairs):
            j = i
            while j < len(pairs) and pairs[j][0] == pairs[i][0]:
                j += 1
            np_s = sum(y for _, y in pairs[i:j])
            nn_s = (j - i) - np_s
            u2 += 2 * np_s * nn_lt + np_s * nn_s
            nn_lt += nn_s
            i = j
        out = registry.QUERIES["eval_roc_auc_scores"](spark, sf_dir).collect()[0]
        assert out["n_pos"] == n_pos and out["n_neg"] == n_neg
        assert out["u2"] == u2
        expected_bp = (2 * 10000 * u2 + 2 * n_pos * n_neg) // (4 * n_pos * n_neg)
        assert out["auc_bp"] == expected_bp
        assert 0 <= out["auc_bp"] <= 10000

    def test_calibration_bins_partition_the_events(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["eval_calibration_bins"](spark, sf_dir).collect()
        n = load(spark, sf_dir, "events").filter("value IS NOT NULL").count()
        assert sum(r["n_events"] for r in rows) == n
        for r in rows:
            assert 0 <= r["purchase_rate_bp"] <= 10000
            assert r["n_purchases"] <= r["n_events"]


class TestEmbeddingLeakage:
    def test_flagged_evals_have_genuine_train_neighbors(self, spark, sf_dir):
        from leadsight_sales_agent_spark.operators.similarity import (
            EMB_LEAK_THRESHOLD,
        )

        rows = registry.QUERIES["leakage_embedding_cosine_cross_split"](
            spark, sf_dir
        ).collect()
        assert rows
        for r in rows:
            assert r["max_cosine"] >= EMB_LEAK_THRESHOLD
            assert r["n_train_matches"] >= 1


class TestHtEstimator:
    def test_estimator_identities(self, spark, sf_dir):
        rows = registry.QUERIES["sample_ht_estimator_check"](spark, sf_dir).collect()
        assert rows
        for r in rows:
            assert r["n_sampled"] <= r["n_rows"]
            assert r["est_cents"] % 5 == 0  # integer inverse-probability weight
            # hash draw should land near 20% (binomial, generous bound)
            assert 0.05 < r["n_sampled"] / r["n_rows"] < 0.45
            assert r["err_bp"] >= 0


class TestProvenance:
    def test_row_index_dense_and_file_stable(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import (
            load,
            with_provenance,
        )

        docs = with_provenance(load(spark, sf_dir, "documents"))
        rows = docs.select("_file_path", "_row_index").collect()
        assert all(r["_file_path"].endswith("documents.parquet") for r in rows)
        idx = sorted(r["_row_index"] for r in rows)
        assert idx == list(range(len(rows)))  # dense per single-file table


class TestFeatureEngineering:
    def test_loo_excludes_own_target(self, spark, sf_dir):
        from pyspark.sql import functions as F

        rows = registry.QUERIES["feature_target_encoding_loo"](spark, sf_dir).collect()
        assert rows
        # reconstruct segment sums and check the LOO identity per row
        seg_sum, seg_n = {}, {}
        for r in rows:
            seg_sum[r["segment"]] = seg_sum.get(r["segment"], 0) + r["cents"]
            seg_n[r["segment"]] = seg_n.get(r["segment"], 0) + 1
        for r in rows[:200]:
            s, n = seg_sum[r["segment"]], seg_n[r["segment"]]
            num, den = s - r["cents"], n - 1
            assert r["loo_cents"] == (2 * num + den) // (2 * den)
        # smoothing shrinks toward the global mean: smoothed lies
        # between loo and the global mean for every row
        gmean = sum(seg_sum.values()) / sum(seg_n.values())
        for r in rows[:200]:
            lo, hi = sorted((r["loo_cents"], gmean))
            assert lo - 1 <= r["smoothed_cents"] <= hi + 1

    def test_hashing_trick_covers_all_rows_and_flags_collisions(self, spark, sf_dir):
        from leadsight_sales_agent_spark.operators.features import FH_DIMS
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["feature_hashing_trick"](spark, sf_dir).collect()
        n_orders = load(spark, sf_dir, "orders").count()
        assert sum(r["n_rows"] for r in rows) == 2 * n_orders
        assert all(0 <= r["dim"] < FH_DIMS for r in rows)
        assert all(r["n_features"] >= 1 for r in rows)


class TestCompactionRewrite:
    def test_planner_bins_drive_a_real_rewrite(self, spark, sf_dir, tmp_path):
        # Execute the OPTIMIZE the planner plans: repartition by
        # (source, bin) and write one file per bin; the rewrite must
        # preserve every row and produce exactly one parquet file per
        # planned bin.
        import glob as globmod

        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.operators.layout import COMPACT_TARGET
        from leadsight_sales_agent_spark.sources.catalog import load
        from pyspark.sql import Window

        plan = registry.QUERIES["compaction_bin_packing"](spark, sf_dir).collect()
        n_bins = len(plan)
        d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
        w = Window.partitionBy("source").orderBy("doc_id")
        binned = d.withColumn(
            "bin",
            F.floor(
                (F.sum("n_chars").over(w) - F.col("n_chars")) / COMPACT_TARGET
            ),
        )
        out = str(tmp_path / "compacted")
        binned.repartition("source", "bin").write.partitionBy(
            "source", "bin"
        ).parquet(out)
        back = spark.read.parquet(out)
        assert back.count() == d.count()
        files = globmod.glob(f"{out}/source=*/bin=*/part-*.parquet")
        assert len(files) == n_bins  # one rewrite task output per planned bin


class TestRollingActives:
    def test_wau_matches_direct_trailing_window(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        ud = {
            (r["user_id"], r["day"])
            for r in load(spark, sf_dir, "events")
            .selectExpr("user_id", "to_date(date_trunc('day', ts)) AS day")
            .distinct()
            .collect()
        }
        rows = registry.QUERIES["rolling_active_users_7d"](spark, sf_dir).collect()
        assert rows
        from datetime import timedelta

        for r in rows:
            window = {
                u for (u, d) in ud
                if r["day"] - timedelta(days=6) <= d <= r["day"]
            }
            today = {u for (u, d) in ud if d == r["day"]}
            assert r["wau"] == len(window)
            assert r["dau"] == len(today)
            assert r["dau"] <= r["wau"]


class TestObserveMetrics:
    def test_observation_metrics_without_second_pass(self, spark, sf_dir):
        # df.observe(): in-flight DQ metrics collected DURING the job —
        # no extra scan. The engine's DQ checks can ride any write.
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        o = load(spark, sf_dir, "orders")
        obs = Observation("dq")
        observed = o.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("o_totalprice") <= 0).alias("n_nonpositive"),
            F.count_if(F.col("o_custkey").isNull()).alias("n_null_cust"),
        )
        n = observed.count()  # one pass drives both the job and the metrics
        got = obs.get
        assert got["n_rows"] == n
        assert got["n_nonpositive"] == 0
        assert got["n_null_cust"] == 0


class TestPythonUdtf:
    def test_udtf_chunker_equals_sql_chunker(self, spark, sf_dir):
        # Python UDTF (Spark 4 table function): the imperative seat for
        # generate-style expansion. Pinned against the declarative
        # sequence+substring chunker (text_chunk_documents) so the two
        # seats provably share one spec; the SQL form is the fast path.
        import hashlib

        from pyspark.sql.functions import udtf

        from leadsight_sales_agent_spark.operators.text import (
            CHUNK_SIZE,
            CHUNK_STRIDE,
        )

        @udtf(returnType="chunk_id int, chunk_len int, chunk_hash string")
        class Chunker:
            def eval(self, text: str):
                if not text:
                    return
                i = 0
                while i * CHUNK_STRIDE <= len(text) - 1:
                    c = text[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_SIZE]
                    yield i, len(c), hashlib.md5(c.encode()).hexdigest()
                    i += 1

        spark.udtf.register("py_chunker", Chunker)
        from leadsight_sales_agent_spark.sources.catalog import load

        docs = load(spark, sf_dir, "documents").filter("length(text) > 0")
        docs.createOrReplaceTempView("_udtf_docs")
        got = {
            (r["doc_id"], r["chunk_id"], r["chunk_len"], r["chunk_hash"])
            for r in spark.sql(
                "SELECT d.doc_id, c.* FROM _udtf_docs d, "
                "LATERAL py_chunker(d.text) c"
            ).collect()
        }
        want = {
            (r["doc_id"], r["chunk_id"], r["chunk_len"], r["chunk_hash"])
            for r in registry.QUERIES["text_chunk_documents"](spark, sf_dir).collect()
        }
        assert got == want and got


class TestRangePartitionedSort:
    def test_repartition_by_range_yields_global_order_across_files(
        self, spark, sf_dir, tmp_path
    ):
        # the scalable global sort: range-partition + sort WITHIN each
        # partition; no single-task orderBy. Files then hold disjoint,
        # ordered key ranges — a reader concatenating them in partition
        # order sees a total order.
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        out = str(tmp_path / "range_sorted")
        (
            o.repartitionByRange(4, "o_totalprice", "o_orderkey")
            .sortWithinPartitions("o_totalprice", "o_orderkey")
            .write.parquet(out)
        )
        import glob as globmod

        spans = []
        for f in globmod.glob(f"{out}/part-*.parquet"):
            pdf = spark.read.parquet(f).select("o_totalprice").collect()
            vals = [r["o_totalprice"] for r in pdf]
            assert vals == sorted(vals)  # sorted within the file
            if vals:
                spans.append((min(vals), max(vals)))
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2  # disjoint ranges -> global total order


class TestPrefixFilterJoin:
    def test_prefix_candidates_strictly_prune_token_candidates(self, spark, sf_dir):
        # the point of the filter: candidate pairs from prefix tokens
        # must be a strict subset of candidate pairs from ALL tokens
        # (stopword-dominated), while the final result is unchanged
        # (the oracle hash proves that part).
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.operators.dedup import (
            PPJOIN_BOUND,
            _tokens,
        )
        from leadsight_sales_agent_spark.sources.catalog import load

        docs = load(spark, sf_dir, "documents").filter(
            F.col("doc_id") < PPJOIN_BOUND
        )
        tok = docs.select(
            "doc_id", F.explode(F.array_distinct(_tokens())).alias("token")
        ).distinct()
        sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
        dfc = tok.groupBy("token").agg(F.count("*").alias("df"))
        from pyspark.sql import Window

        ranked = (
            tok.join(dfc, "token")
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "token")
                ),
            )
            .join(sizes, "doc_id")
        )
        prefix = ranked.filter(F.col("rn") <= F.floor(F.col("n_tok") / 2) + 1)

        def pairs(t):
            a = t.select(F.col("doc_id").alias("x"), "token")
            b = t.select(F.col("doc_id").alias("y"), "token")
            return (
                a.join(b, "token")
                .filter(F.col("x") < F.col("y"))
                .select("x", "y")
                .distinct()
                .count()
            )

        n_prefix = pairs(prefix.select("doc_id", "token"))
        n_all = pairs(tok)
        assert n_prefix < n_all  # genuine pruning


class TestFifoMatching:
    def test_interval_identity_equals_sequential_fifo(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = (
            load(spark, sf_dir, "lineitem")
            .selectExpr(
                "l_partkey",
                "l_shipdate",
                "l_orderkey",
                "l_linenumber",
                "l_returnflag",
                "CAST(l_quantity AS LONG) AS qty",
                "CAST((2 * CAST(CAST(l_extendedprice AS DECIMAL(25,2))"
                " * 1000000 AS BIGINT) + CAST(l_quantity AS BIGINT))"
                " DIV (2 * CAST(l_quantity AS BIGINT)) AS BIGINT) AS unit_micro",
            )
            .collect()
        )
        by_part: dict = {}
        for r in rows:
            by_part.setdefault(r["l_partkey"], []).append(r)
        expected = {}
        for pk, rs in by_part.items():
            rs.sort(key=lambda r: (r["l_shipdate"], r["l_orderkey"], r["l_linenumber"]))
            # period-end FIFO valuation: the full layer book (date
            # order) is consumed by shipments in date order — the
            # positional convention the interval identity implements
            layers = [
                [r["qty"], r["unit_micro"]] for r in rs if r["l_returnflag"] == "R"
            ]
            li = 0
            for r in rs:
                if r["l_returnflag"] != "R":
                    need, cogs, matched, n_layers = r["qty"], 0, 0, 0
                    while need > 0 and li < len(layers):
                        take = min(need, layers[li][0])
                        if take > 0:
                            cogs += take * layers[li][1]
                            matched += take
                            n_layers += 1
                        layers[li][0] -= take
                        need -= take
                        if layers[li][0] == 0:
                            li += 1
                    if matched:
                        expected[(pk, r["l_orderkey"], r["l_linenumber"])] = (
                            r["qty"], matched, n_layers, cogs
                        )
        got = {
            (r["partkey"], r["orderkey"], r["linenumber"]): (
                r["ship_qty"], r["matched_qty"], r["n_layers"], r["cogs_micro"]
            )
            for r in registry.QUERIES["fifo_cogs_matching"](spark, sf_dir).collect()
        }
        assert got == expected and got


class TestWilson:
    def test_interval_contains_point_estimate(self, spark, sf_dir):
        rows = registry.QUERIES["ab_wilson_significance"](spark, sf_dir).collect()
        assert {r["arm"] for r in rows} == {"A", "B"}
        for r in rows:
            p = r["n_converted"] / r["n_users"]
            assert 0.0 <= r["wilson_low"] <= p <= r["wilson_high"] <= 1.0
            # interval narrows with n: sanity width bound for n >= 30
            if r["n_users"] >= 30:
                assert r["wilson_high"] - r["wilson_low"] < 0.5


class TestQuarantine:
    def test_routes_partition_the_table_and_poison_rule_fires(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load

        rows = registry.QUERIES["dq_quarantine_split"](spark, sf_dir).collect()
        total = sum(r["n_rows"] for r in rows)
        assert total == load(spark, sf_dir, "orders").count()
        q = [r for r in rows if r["route"] == "quarantine"]
        assert q and all(r["failed_rules"] for r in q)
        assert any("synthetic_poison" in r["failed_rules"] for r in q)
        clean = [r for r in rows if r["route"] == "clean"]
        assert clean and all(r["failed_rules"] == "" for r in clean)


class TestRepeatedSpans:
    def test_matches_python_bruteforce_twin(self, spark, sf_dir):
        from collections import Counter

        K = 10
        got = {
            r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_coverage_bp"])
            for r in registry.QUERIES["dedup_repeated_spans"](spark, sf_dir).collect()
        }
        assert got
        docs = {
            r["doc_id"]: r["text"]
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
            if r["text"] is not None
        }
        spans_per_doc = {}
        counts = Counter()
        for did, text in docs.items():
            toks = re.split(r"\s+", text.strip())
            if len(toks) < K:
                continue
            spans = [" ".join(toks[p : p + K]) for p in range(len(toks) - K + 1)]
            spans_per_doc[did] = spans
            counts.update(spans)
        assert set(got) == set(spans_per_doc)
        for did, spans in spans_per_doc.items():
            n_dup = sum(1 for s in spans if counts[s] >= 2)
            want = (len(spans), n_dup, 10000 * n_dup // len(spans))
            assert got[did] == want, (did, got[did], want)
        # the corpus contains near-dup docs sharing long spans
        assert any(v[1] > 0 for v in got.values())


class TestEntityLinkage:
    def test_links_are_exactly_the_recoverable_twins(self, spark, sf_dir):
        rows = registry.QUERIES["entity_link_customers_billing"](
            spark, sf_dir
        ).collect()
        assert rows
        # every accepted link points at the true twin
        for r in rows:
            assert r["billing_id"] - 10_000_000 == r["c_custkey"]
            assert r["match_score_bp"] >= 6000
        # the accept set is precisely: all billing twins except the
        # double-drifted ones (name AND balance perturbed -> score 3000)
        keys = [
            r["c_custkey"]
            for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
        ]
        expected = {k for k in keys if k % 9 == 0 and not (k % 18 == 0 and k % 27 == 0)}
        assert {r["c_custkey"] for r in rows} == expected


class TestMMRRetrieval:
    def test_greedy_contract(self, spark, sf_dir):
        from leadsight_sales_agent_spark.operators.similarity import (
            MMR_QUERIES,
            MMR_TOP,
        )

        rows = registry.QUERIES["retrieval_mmr_diversified"](spark, sf_dir).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert len(by_q) == MMR_QUERIES
        for qid, picks in by_q.items():
            assert len(picks) == MMR_TOP
            picks.sort(key=lambda r: r["mmr_rank"])
            # no doc picked twice
            assert len({r["doc_id"] for r in picks}) == MMR_TOP
            # rank-1 is the pure-relevance argmax: score == rel / 2
            assert picks[0]["mmr_score"] == 0.5 * picks[0]["rel"]
            # later picks: score = rel/2 - maxsim/2 with maxsim in
            # [-1, 1] (near-orthogonal corpus -> the "penalty" may be
            # a bonus when the closest selected doc points away)
            for r in picks[1:]:
                assert abs(r["mmr_score"] - 0.5 * r["rel"]) <= 0.5 + 1e-12


class TestSpark4ApiSurface:
    def test_arrow_optimized_udf_matches_jvm_expression(self, spark, sf_dir):
        import pandas  # noqa: F401  (Arrow path requires pandas)
        from pyspark.sql import functions as F

        def _cents(x):
            return None if x is None else int(round(x * 100))

        _cents.__annotations__ = {"x": float, "return": int}
        cents_arrow = F.udf(_cents, "long", useArrow=True)
        df = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey",
            cents_arrow("c_acctbal").alias("via_udf"),
            (F.round(F.col("c_acctbal") * 100)).cast("long").alias("via_jvm"),
        )
        bad = df.filter(F.col("via_udf") != F.col("via_jvm")).count()
        assert bad == 0

    def test_pipe_sql_plan_equals_classic_sql_plan(self, spark, sf_dir):
        from leadsight_sales_agent_spark import registry as reg
        from leadsight_sales_agent_spark.sources.catalog import load

        load(spark, sf_dir, "lineitem").createOrReplaceTempView("li_pipe")
        load(spark, sf_dir, "orders").createOrReplaceTempView("o_pipe")
        piped = reg.QUERIES["sql_pipe_syntax_suite"](spark, sf_dir)
        # r13: the revenue column uses the d53s split conversion in the
        # pipe query, so the classic twin must too — the test pins
        # pipe-syntax SUGAR equivalence, with identical expressions.
        from leadsight_sales_agent_spark.functions.numeric import d53s

        classic = spark.sql(
            f"""
            SELECT l_returnflag AS returnflag, o_orderpriority AS orderpriority,
                   {d53s("round(sum(CAST(disc_price AS DECIMAL(25,6))), 2)", 2)}
                       AS revenue,
                   count(*) AS n_lines
            FROM (SELECT l.*, l_extendedprice * (1 - l_discount) AS disc_price
                  FROM li_pipe l
                  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
                    AND l_shipdate < TIMESTAMP '1996-01-01')
            JOIN o_pipe ON l_orderkey = o_orderkey
            WHERE o_orderstatus <> 'F'
            GROUP BY 1, 2
            ORDER BY revenue DESC, returnflag, orderpriority
            LIMIT 5
            """
        )
        p1 = piped._jdf.queryExecution().optimizedPlan().toString()
        p2 = classic._jdf.queryExecution().optimizedPlan().toString()
        # pipe syntax is sugar: identical optimized plan, not just
        # identical results (modulo auto-generated attribute ids)
        import re as _re

        strip = lambda s: _re.sub(r"#\d+L?", "#x", s)
        assert strip(p1) == strip(p2)


class TestContrastiveMining:
    def test_roles_counts_and_hardness_ordering(self, spark, sf_dir):
        from leadsight_sales_agent_spark.operators.similarity import (
            MINE_ANCHORS,
            MINE_HARD_NEGS,
        )

        rows = registry.QUERIES["mining_contrastive_triplets"](spark, sf_dir).collect()
        labels = {
            r["vec_id"]: r["label"]
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        }
        by_anchor = {}
        for r in rows:
            by_anchor.setdefault(r["anchor_id"], []).append(r)
        assert len(by_anchor) == MINE_ANCHORS
        for aid, picks in by_anchor.items():
            poss = [r for r in picks if r["pair_role"] == "pos"]
            negs = sorted(
                (r for r in picks if r["pair_role"] == "neg"),
                key=lambda r: r["rnk"],
            )
            assert len(poss) == 1 and len(negs) == MINE_HARD_NEGS
            assert labels[poss[0]["pair_id"]] == labels[aid]
            for n in negs:
                assert labels[n["pair_id"]] != labels[aid]
            # negatives ranked hardest-first (descending cosine)
            cosines = [n["cosine"] for n in negs]
            assert cosines == sorted(cosines, reverse=True)
