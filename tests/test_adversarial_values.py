"""Adversarial-VALUES pins (r10 session 2): the bug class the zero-row,
single-row, and planted-NULL fixtures cannot reach — legal, non-null
values the synthetic generator never emits but any real corpus
contains. The full two-engine audit lives in
``tools/empty_audit.py --adv``; this fast subset pins the FIXED
classes so they cannot regress silently:

- ZERO-NORM embeddings: every cosine against a zero vector is 0/0 —
  Spark ANSI raised DIVIDE_BY_ZERO across the entire similarity
  family (18 queries) where DuckDB silently emitted NULL. Fixed with
  the shared NONZERO()/NONZERO_SQL exclusion (similarity.py): both
  engines drop zero-norm vectors before any pairing; a no-op on any
  corpus without degenerate vectors.
- EMPTY / WHITESPACE-ONLY / 1-2-TOKEN documents: blank docs made the
  stopword/punct ratio denominators 0 (Spark crash), and short docs
  are the descending-``sequence(1, 0)`` / phantom-n-gram class the r9
  advisory found in DSIR — planted here permanently so the guard
  inventory is exercised on every audit run.
- exact value TIES (events five-way, customer balances, duplicate and
  antipodal embedding copies): rank orderings must stay total via
  explicit id tiebreaks on both engines.
- NULL embeddings (never-computed vectors): DuckDB's
  list_dot_product refuses a NULL list outright where Spark's fold
  yields NULL — embedding_norm_stats and embedding_pq_quantize now
  exclude absent vectors on both engines; every cosine consumer
  already drops them through the NONZERO() predicate (exists over a
  NULL array is NULL → filtered).
- NEGATIVE / ZERO event values and multibyte-unicode documents
  (accents, CJK, emoji, case-folding exotica): planted and verified
  engine-agreed with no code change needed — pinned so that stays
  true.
- MALFORMED JSON in events.props ("not json", truncated, empty):
  Spark's get_json_object/from_json yield NULL where DuckDB's
  json_extract RAISES and Spark's variant parse_json raises — the
  JSON family now nullifies invalid payloads at the source on both
  engines (SQL_VALID_JSON_EVENTS / try_parse_json).
- TIMESTAMP extremes (epoch edge 1970, far-future 2199): verified
  engine-agreed with no code change — planted permanently.
- NEGATIVE WINDOW MEANS: the ts/value plants shifted a moving-avg
  window onto a negative half-boundary, exposing the one
  hand-inlined windowed mean oracle missing sql_davg's negative
  mirror (DuckDB floor-// rounds toward -inf) — replaced by the
  shared sql_davg_over() twin.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from leadsight_sales_agent_spark import registry
from tools.empty_audit import ADV_TEXTS, build_fixture

registry.load_all()

# the 17 cosine-family queries the first --adv audit run crashed
# (DIVIDE_BY_ZERO); the 18th crash in COVERAGE.md's count was the
# blank-doc ratio, pinned in BLANK_DOC_FIXED below:
ZERO_NORM_FIXED = [
    "ann_recall_report",
    "dedup_semantic_semdedup",
    "embedding_random_projection_jl",
    "eval_label_silhouette",
    "eval_map_retrieval",
    "eval_ndcg_retrieval",
    "knn_cosine_bruteforce",
    "knn_cosine_ivf",
    "knn_cosine_ivf_pruned",
    "knn_cosine_lsh",
    "leakage_embedding_cosine_cross_split",
    "mining_contrastive_triplets",
    "neardup_embedding_cosine",
    "retrieval_binary_quantization",
    "retrieval_hybrid_bm25_vector",
    "retrieval_mmr_diversified",
    "retrieval_rrf_fusion",
]
BLANK_DOC_FIXED = ["text_stopword_punct_ratio"]

# short-doc guard inventory: queries whose n-gram/window legs carry an
# explicit size guard that the planted 1-2-token docs exercise
SHORT_DOC_GUARDED = [
    "sample_dsir_importance",
    "text_bleu_source_similarity",
    "text_ngram_novelty",
    "dedup_repeated_spans",
    "dedup_exact_substring_coverage",
    "text_mattr_lexical_diversity",
    "text_watermark_greenlist_detect",
]

# null-embedding exclusions (second probe wave)
NULL_EMB_FIXED = ["embedding_norm_stats", "embedding_pq_quantize"]

# NaN/Inf nullification (third probe wave): every query that crashed
# when a non-finite measurement reached its integer-exactness cast —
# now routed through finite()/is_finite() (scalar) or FINITE_VEC()
# (vector) on BOTH engines
NONFINITE_FIXED = [
    "agg_argmax_events",
    "agg_skew_kurtosis_moments",
    "attribution_position_based",
    "embedding_feature_scale",
    "embedding_pca_power_iteration",
    "embedding_quantize_int8",
    "embedding_robust_scale",
    "eval_auc_by_fold",
    "eval_auc_delong_ci",
    "eval_brier_murphy_decomposition",
    "eval_calibration_bins",
    "eval_cost_optimal_threshold",
    "eval_decile_lift_table",
    "eval_expected_calibration_error",
    "eval_jarque_bera_normality",
    "eval_ks_two_sample",
    "eval_pr_curve",
    "eval_qini_uplift_curve",
    "eval_roc_auc_scores",
    "impute_linear_interpolation",
    "sample_coreset_kcenter_greedy",
    "seasonality_heatmap_events",
    "window_moving_avg_events",
    "window_range_interval_counts",
    "window_rolling_median_events",
    "window_session_30min_gap",
    "window_session_builtin",
    "window_sliding_1h_30min",
    "window_sliding_panes",
    "window_tumbling_10min",
]

# malformed-JSON nullification + negative-window-mean mirror
# (fourth probe wave)
JSON_TS_FIXED = [
    "agg_completeness_ladder",
    "json_flatten_struct",
    "json_props_extraction",
    "json_variant_extraction",
]


@pytest.fixture(scope="module")
def adv_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("sf_adv")
    build_fixture(sf_dir, str(d), -2)
    return str(d)


class TestAdversarialValues:
    @pytest.mark.parametrize(
        "name",
        ZERO_NORM_FIXED
        + BLANK_DOC_FIXED
        + SHORT_DOC_GUARDED
        + NULL_EMB_FIXED
        + NONFINITE_FIXED
        + JSON_TS_FIXED,
    )
    def test_total_on_adversarial_values(self, spark, adv_dir, name):
        # must collect without error; engine agreement is re-proven by
        # tools/empty_audit.py --adv on both engines
        rows = registry.QUERIES[name](spark, adv_dir).collect()
        assert isinstance(rows, list)

    def test_zero_vector_excluded_from_knn(self, spark, adv_dir):
        # the planted all-zero vector (vec_id 5 < N_QUERIES) must
        # appear as neither query nor neighbor
        rows = registry.QUERIES["knn_cosine_bruteforce"](spark, adv_dir).collect()
        assert rows, "knn returned nothing on the adversarial fixture"
        assert all(r["query_id"] != 5 and r["neighbor_id"] != 5 for r in rows)

    def test_duplicate_vector_is_top_neighbor(self, spark, adv_dir):
        # vec 11 is an exact copy of vec 0 → cosine 1.0 must rank it
        # first for query 0 (ties beyond that break on neighbor_id)
        rows = registry.QUERIES["knn_cosine_bruteforce"](spark, adv_dir).collect()
        top = [r for r in rows if r["query_id"] == 0 and r["rank"] == 1]
        assert len(top) == 1 and top[0]["neighbor_id"] == 11
        assert top[0]["cosine"] == pytest.approx(1.0)

    def test_blank_docs_dropped_from_ratio_report(self, spark, adv_dir):
        rows = registry.QUERIES["text_stopword_punct_ratio"](
            spark, adv_dir
        ).collect()
        blank_ids = {i for i, t in ADV_TEXTS.items() if not t.strip()}
        got = {r["doc_id"] for r in rows}
        assert blank_ids.isdisjoint(got)
        # non-blank planted docs still report, with sane totals
        one_tok = next(r for r in rows if r["doc_id"] == 9)
        assert one_tok["n_tokens"] == 1 and one_tok["punct_bp"] == 0

    def test_nan_value_adopts_null_semantics(self, spark, adv_dir):
        # event 23 carries NaN, event 29 carries Inf: the tumbling
        # window still COUNTS both rows (nullify, don't filter) while
        # their values stay out of every sum
        import pyarrow.parquet as pq

        rows = registry.QUERIES["window_tumbling_10min"](spark, adv_dir).collect()
        n_counted = sum(r["n_events"] for r in rows)
        n_total = pq.read_table(f"{adv_dir}/events.parquet").num_rows
        assert n_counted == n_total
        assert all(
            r["total_value"] is None
            or (r["total_value"] == r["total_value"] and abs(r["total_value"]) < 1e30)
            for r in rows
        )

    def test_null_embedding_excluded_from_norm_stats(self, spark, adv_dir):
        # null vectors (7/20/33), corrupted-component vectors (9 NaN /
        # 13 Inf), and the NULL-ELEMENT vectors (25 — r11 plant; 4 —
        # r12 plant below N_QUERIES) report no norm; the zero vector
        # (5) DOES report — norm 0 is a fact about a present, finite
        # vector
        import pyarrow.parquet as pq

        rows = registry.QUERIES["embedding_norm_stats"](spark, adv_dir).collect()
        n_reported = sum(r["n_vecs"] for r in rows)
        n_total = pq.read_table(f"{adv_dir}/embeddings.parquet").num_rows
        assert n_reported == n_total - 7

    def test_null_element_vector_dropped_by_both_engines(
        self, spark, adv_dir
    ):
        """r11 advisor finding: [x, NULL, y] must be DROPPED by both
        engines. Spark's forall yields NULL (row filtered); DuckDB's
        list_filter treats a NULL lambda result as false, so the old
        `x -> NOT isfinite(x)` twin KEPT the vector — the SQL twins
        now test `x IS NULL OR NOT isfinite(x)`. Checked on both
        engines against the planted vectors 25 (neighbor side) and 4
        (query side — knn query vectors are capped at vec_id <
        N_QUERIES = 10, so only a plant below 10 can exercise the
        query_id leg of the drop; the r11 assertion on query_id != 25
        was vacuous, advisor r12)."""
        import duckdb

        from leadsight_sales_agent_spark.operators.similarity import (
            FINITE_VEC_SQL,
        )

        rows = registry.QUERIES["knn_cosine_bruteforce"](spark, adv_dir).collect()
        assert rows
        assert all(
            r["query_id"] not in (4, 25) and r["neighbor_id"] not in (4, 25)
            for r in rows
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{adv_dir}/embeddings.parquet'"
        )
        kept = {
            r[0]
            for r in con.execute(
                f"SELECT vec_id FROM embeddings WHERE {FINITE_VEC_SQL}"
            ).fetchall()
        }
        con.close()
        assert 25 not in kept and 4 not in kept
        assert 9 not in kept and 13 not in kept
        assert 5 in kept  # all-zero is finite: dropped by NONZERO, not here

    def test_subnormal_min_float32_vector_has_positive_norm(self, spark):
        """Pin for the documented NONZERO() soundness argument: the
        smallest positive float32 magnitude (2^-149) squared in double
        is 2^-298 — no underflow-to-zero-norm is possible for float32
        components, so exists(x != 0) implies l2_norm > 0 and the
        cosine path cannot divide by zero (similarity.py NONZERO
        docstring). Both engines must agree the norm is positive."""
        import duckdb
        import pyspark.sql.types as T

        from leadsight_sales_agent_spark.operators.similarity import (
            NONZERO,
            l2_norm,
        )

        tiny = 2.0**-149  # min positive float32 subnormal
        df = spark.createDataFrame(
            [([tiny] * 8,)],
            T.StructType(
                [T.StructField("embedding", T.ArrayType(T.FloatType()))]
            ),
        )
        out = df.filter(NONZERO()).select(
            l2_norm(F.col("embedding")).alias("norm")
        ).collect()
        assert len(out) == 1 and out[0]["norm"] > 0.0
        duck_norm = duckdb.sql(
            f"SELECT sqrt(list_dot_product(l, l)) FROM (SELECT "
            f"list_transform(range(8), i -> CAST(CAST({tiny!r} AS FLOAT)"
            f" AS DOUBLE)) AS l)"
        ).fetchone()[0]
        assert duck_norm > 0.0
        assert duck_norm == pytest.approx(out[0]["norm"])


class TestLoudSeams:
    """The documented bounded-exact-domain refusals must FAIL LOUDLY —
    nothing currently proved they do, so a silent erosion into
    wrong-answer precision loss could go unnoticed (r10 verdict task).
    Extreme magnitudes (|value| ~ 1e12) overflow the DECIMAL(38)
    central-moment device by design: both engines must raise, never
    emit a lossy number. Same for the PQ codebook>corpus refusal."""

    @pytest.fixture(scope="class")
    def extreme_dir(self, tmp_path_factory, sf_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tools.empty_audit import TABLES

        d = tmp_path_factory.mktemp("sf_extreme")
        for t in TABLES:
            tb = pq.read_table(f"{sf_dir}/{t}.parquet")
            if t == "events":
                rows = tb.to_pylist()
                rows[3]["value"] = 1.0e12  # breaks cents-shifted d^4
                tb = pa.Table.from_pylist(rows, schema=tb.schema)
            pq.write_table(tb, f"{d}/{t}.parquet")
        return str(d)

    def test_moment_family_raises_on_spark(self, spark, extreme_dir):
        with pytest.raises(Exception) as ei:
            registry.QUERIES["agg_skew_kurtosis_moments"](
                spark, extreme_dir
            ).collect()
        msg = str(ei.value).upper()
        assert "OVERFLOW" in msg or "CAST" in msg or "RANGE" in msg

    def test_moment_family_raises_on_duckdb(self, extreme_dir):
        import duckdb

        from tools.empty_audit import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{extreme_dir}/{t}.parquet'"
            )
        with pytest.raises(duckdb.Error):
            con.execute(registry.ORACLES["agg_skew_kurtosis_moments"]).fetchall()
        con.close()

    def test_pq_refuses_codebook_larger_than_corpus(
        self, spark, tmp_path_factory, sf_dir
    ):
        d = tmp_path_factory.mktemp("sf_one_pin")
        build_fixture(sf_dir, str(d), 1)
        with pytest.raises(ValueError, match="PQ needs at least"):
            registry.QUERIES["embedding_pq_quantize"](spark, str(d)).collect()
