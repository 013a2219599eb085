"""Aggregation surface: hash aggregates, distinct, stats, rollup/cube/
grouping sets, pivot, conditional counts, completeness scoring.

Reference analogues: A1 count (app.py:293), A3 conditional non-null
counts (index.html:669-675), A4 row completeness CASE ladder
(index.html:651-653), A6 keyword score fold (app.py:166-172) — all
generalized to the graded star schema (SURVEY.md §2.5).

Scale notes: every groupBy below is a partial (map-side) + final hash
aggregate — one shuffle on the grouping key. count_distinct adds an
expand+two-phase plan; approx_count_distinct (HLL) removes the extra
shuffle and is the 100 TB default for cardinality work.
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import (
    ddbl,
    SQL_FINITE_EVENTS,
    SQL_VALID_JSON_EVENTS,
    d53,
    d53s,
    davg,
    dsum,
    exact_cents,
    finite,
    is_finite,
    sql_d53,
    sql_d53s,
    sql_davg,
    sql_dsum,
    sql_hex_to_long,
)
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load


@query(
    "agg_pricing_summary",
    oracle=f"""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           {sql_dsum("l_quantity", 2)}                                  AS sum_qty,
           {sql_dsum("l_extendedprice", 2)}                             AS sum_base_price,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 2)}          AS sum_disc_price,
           {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 2)} AS sum_charge,
           {sql_davg("l_quantity", 4)}                                  AS avg_qty,
           {sql_davg("l_extendedprice", 4)}                             AS avg_price,
           {sql_davg("l_discount", 4)}                                  AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical wide hash-agg."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy(
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
        )
        .agg(
            dsum(F.col("l_quantity"), 2).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            dsum(disc_price, 2).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 2).alias("sum_charge"),
            davg(F.col("l_quantity"), 4).alias("avg_qty"),
            davg(F.col("l_extendedprice"), 4).alias("avg_price"),
            davg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "agg_count_distinct_customers",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(DISTINCT o.o_custkey) AS n_active_customers,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def agg_count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count_distinct("o_custkey").alias("n_active_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@query("agg_approx_count_distinct")  # HLL-based → approximate, rows-only check
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cardinality path: HLL sketch, no distinct-expand shuffle.

    Approximate by design (rsd=2%) → no oracle; the exact twin above is
    the correctness anchor.
    """
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "agg_stats_moments",
    oracle=f"""
    WITH s AS (
        SELECT o_orderpriority AS priority,
               -- r13: both sums convert through the d53s split (the
               -- VARCHAR hop matched Spark only build-by-luck; the
               -- split is engine-independent by construction).
               ((CAST(CAST((CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) * 10000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS sx,
               ((CAST(CAST((CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4)) * CAST(o_totalprice AS DECIMAL(19,4))) * 100000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4)) * CAST(o_totalprice AS DECIMAL(19,4))) * 100000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4)) * CAST(o_totalprice AS DECIMAL(19,4))) * 100000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100000000 AS DOUBLE)) AS sxx,
               count(*) AS n,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price,
               {sql_davg("o_totalprice", 4)} AS avg_price
        FROM orders GROUP BY 1
    )
    SELECT priority,
           round(sqrt((sxx - sx * sx / n) / (n - 1)), 4) AS sd_price,
           round((sxx - sx * sx / n) / (n - 1), 4)       AS var_price,
           min_price, max_price, avg_price
    FROM s
    """,
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group moments. Streaming stddev/var aggregators accumulate
    doubles in nondeterministic order (not cross-engine stable), so
    variance is computed from exact decimal Σx / Σx² — identical
    doubles in both engines, then identical final arithmetic."""
    x = F.col("o_totalprice")
    xd = x.cast("decimal(12,4)")
    sx = ddbl(F.sum(xd), 4)
    sxx = ddbl(F.sum(xd * xd), 8)
    n = F.count(F.lit(1))
    var = (sxx - sx * sx / n) / F.nullif((n - 1).cast("double"), F.lit(0.0))
    return (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.round(F.sqrt(var), 4).alias("sd_price"),
            F.round(var, 4).alias("var_price"),
            F.round(F.min(x), 2).alias("min_price"),
            F.round(F.max(x), 2).alias("max_price"),
            davg(x, 4).alias("avg_price"),
        )
    )


@query(
    "agg_rollup_region_nation_revenue",
    oracle=f"""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           {sql_dsum("c.c_acctbal", 2)} AS total_acctbal,
           count(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    HAVING count(*) > 0
    """,
)
def agg_rollup_region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"), "c_acctbal")
        .rollup("region_name", "nation_name")
        .agg(
            dsum(F.col("c_acctbal"), 2).alias("total_acctbal"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "agg_cube_flag_status",
    oracle=f"""
    SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
           count(*) AS n_items, {sql_dsum("l_quantity", 2)} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    """,
)
def agg_cube_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_returnflag").alias("returnflag"), F.col("l_linestatus").alias("linestatus"), "l_quantity")
        .cube("returnflag", "linestatus")
        .agg(F.count("*").alias("n_items"), dsum(F.col("l_quantity"), 2).alias("sum_qty"))
    )


@query(
    "agg_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus AS orderstatus, o_orderpriority AS priority,
           count(*) AS n_orders, {sql_dsum("o_totalprice", 2)} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    HAVING count(*) > 0
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via Spark SQL (DF API exposes only rollup/cube)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus AS orderstatus, o_orderpriority AS priority,
               count(*) AS n_orders,
               ((CAST((CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS DECIMAL(38,0)) AS DECIMAL(38,0)) DIV 1125899906842624) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS DECIMAL(38,0)) AS DECIMAL(38,0)) - CAST((CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS DECIMAL(38,0)) AS DECIMAL(38,0)) DIV 1125899906842624) AS DECIMAL(38,0)) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
                   AS total_price
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "agg_pivot_event_types",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list — never let pivot scan for
    distinct values at scale (that is an extra job over 100 TB)."""
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .fillna(0, subset=kinds)
    )


@query(
    "agg_conditional_counts_documents",
    oracle="""
    SELECT count(*) AS n_docs,
           count(CASE WHEN lang = 'en' THEN 1 END)     AS n_english,
           count(CASE WHEN n_chars > 200 THEN 1 END)   AS n_long,
           count(CASE WHEN text LIKE '%spark%' THEN 1 END) AS n_mention_spark
    FROM documents
    """,
)
def agg_conditional_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A3 (UI stat tiles): conditional non-null counts."""
    return load(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("n_english"),
        F.count(F.when(F.col("n_chars") > 200, 1)).alias("n_long"),
        F.count(F.when(F.col("text").contains("spark"), 1)).alias("n_mention_spark"),
    )


@query(
    "agg_completeness_ladder",
    oracle=f"""
    WITH scored AS (
        SELECT (CASE WHEN value > 100 THEN 1 ELSE 0 END)
             + (CASE WHEN event_type IN ('purchase','signup') THEN 1 ELSE 0 END)
             + (CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
                     THEN 1 ELSE 0 END) AS fields
        FROM {SQL_VALID_JSON_EVENTS} events
    )
    SELECT CASE WHEN fields = 3 THEN 'Full'
                WHEN fields >= 1 THEN 'Partial'
                ELSE 'Empty' END AS status,
           count(*) AS n_events
    FROM scored GROUP BY 1
    """,
)
def agg_completeness_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A4 (index.html:651-653): row completeness score → CASE
    ladder Full/Partial/Empty, generalized to events + JSON props."""
    ev = load(spark, sf_dir, "events")
    fields = (
        F.when(F.col("value") > 100, 1).otherwise(0)
        + F.when(F.col("event_type").isin("purchase", "signup"), 1).otherwise(0)
        + F.when(F.get_json_object("props", "$.k").cast("bigint") >= 50, 1).otherwise(0)
    )
    return (
        ev.withColumn("fields", fields)
        .withColumn(
            "status",
            F.when(F.col("fields") == 3, "Full")
            .when(F.col("fields") >= 1, "Partial")
            .otherwise("Empty"),
        )
        .groupBy("status")
        .agg(F.count("*").alias("n_events"))
    )


@query(
    "keyword_score_documents",
    oracle="""
    SELECT doc_id,
           (CASE WHEN text LIKE '%join%' THEN 2 ELSE 0 END)
         + (CASE WHEN text LIKE '%merge%' THEN 2 ELSE 0 END)
         + (CASE WHEN text LIKE '%window%' THEN 2 ELSE 0 END)
         + (CASE WHEN text LIKE '%stream%' THEN 2 ELSE 0 END)
         + (CASE WHEN source LIKE '%1%' THEN 3 ELSE 0 END) AS score
    FROM documents
    WHERE (CASE WHEN text LIKE '%join%' THEN 2 ELSE 0 END)
        + (CASE WHEN text LIKE '%merge%' THEN 2 ELSE 0 END)
        + (CASE WHEN text LIKE '%window%' THEN 2 ELSE 0 END)
        + (CASE WHEN text LIKE '%stream%' THEN 2 ELSE 0 END)
        + (CASE WHEN source LIKE '%1%' THEN 3 ELSE 0 END) > 0
    """,
)
def keyword_score_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference A6 keyword scoring fold (app.py:166-172): Σ 2·(kw in
    text) + 3·(kw in source), then the positive-score filter P6 —
    exactly the reference's link-scoring semantics on the documents
    table. Pure column arithmetic → whole-stage codegen, no UDF."""
    text_kws = ["join", "merge", "window", "stream"]
    score = reduce(
        add,
        [F.when(F.col("text").contains(k), 2).otherwise(0) for k in text_kws],
    ) + F.when(F.col("source").contains("1"), 3).otherwise(0)
    return (
        load(spark, sf_dir, "documents")
        .withColumn("score", score)
        .filter(F.col("score") > 0)
        .select("doc_id", "score")
    )


@query(
    "agg_percentiles_quantity",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.75) AS p75,
           quantile_cont(l_quantity, 0.99) AS p99,
           CAST(min(l_quantity) AS DOUBLE) AS min_qty,
           CAST(max(l_quantity) AS DOUBLE) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: linear interpolation
    between order statistics — identical on the integer-valued quantity
    column). At 100 TB the exact sort-based percentile gives way to
    approx_percentile (t-digest, mergeable, one pass) — same call shape.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("p25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75"),
        F.percentile("l_quantity", F.lit(0.99)).alias("p99"),
        F.min("l_quantity").cast("double").alias("min_qty"),
        F.max("l_quantity").cast("double").alias("max_qty"),
    )


# (col, kind) spec for the profiling operator; kinds pick the exact
# min/max representation both engines can render identically.
_PROFILE_SPEC = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "money"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_SPEC:
        if kind == "ts":
            mn = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
        elif kind == "money":
            mn = f"CAST(round(min({col}), 2) AS VARCHAR)"
            mx = f"CAST(round(max({col}), 2) AS VARCHAR)"
        else:
            mn = f"CAST(min({col}) AS VARCHAR)"
            mx = f"CAST(max({col}) AS VARCHAR)"
        parts.append(
            f"SELECT '{col}' AS col_name, count(*) AS n_rows, "
            f"count(*) - count({col}) AS n_nulls, "
            f"count(DISTINCT {col}) AS n_distinct, "
            f"{mn} AS min_repr, {mx} AS max_repr FROM orders"
        )
    return " UNION ALL ".join(parts)


@query("profile_table_columns", oracle=_profile_oracle())
def profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling (one row per column: null count,
    distinct count, min/max) — the data-quality pass a pipeline runs
    before trusting a new drop. ONE scan computes every column's stats
    as a single wide aggregate row, then unpivots driver-side into the
    per-column contract (6 rows — the unpivot is metadata-sized).

    Scale notes: exact count_distinct per column is the oracle-checked
    demo semantic; at 100 TB swap in approx_count_distinct (HLL) per
    column — same one-pass shape. Min/max/null counts are free partial
    aggregates."""
    df = load(spark, sf_dir, "orders")
    aggs = []
    for col, kind in _PROFILE_SPEC:
        aggs += [
            F.count(F.lit(1)).alias(f"{col}__rows"),
            (F.count(F.lit(1)) - F.count(col)).alias(f"{col}__nulls"),
            F.count_distinct(col).alias(f"{col}__distinct"),
        ]
        if kind == "ts":
            aggs += [
                F.date_format(F.min(col), "yyyy-MM-dd HH:mm:ss").alias(f"{col}__min"),
                F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss").alias(f"{col}__max"),
            ]
        elif kind == "money":
            aggs += [
                F.round(F.min(col), 2).cast("string").alias(f"{col}__min"),
                F.round(F.max(col), 2).cast("string").alias(f"{col}__max"),
            ]
        else:
            aggs += [
                F.min(col).cast("string").alias(f"{col}__min"),
                F.max(col).cast("string").alias(f"{col}__max"),
            ]
    wide = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(col).alias("col_name"),
            F.col(f"{col}__rows").alias("n_rows"),
            F.col(f"{col}__nulls").alias("n_nulls"),
            F.col(f"{col}__distinct").alias("n_distinct"),
            F.col(f"{col}__min").alias("min_repr"),
            F.col(f"{col}__max").alias("max_repr"),
        )
        for col, _ in _PROFILE_SPEC
    ]
    return (
        wide.select(F.explode(F.array(*per_col)).alias("p"))
        .select("p.col_name", "p.n_rows", "p.n_nulls", "p.n_distinct", "p.min_repr", "p.max_repr")
    )


HIST_LO, HIST_HI, HIST_BINS = 0.0, 600_000.0, 12


@query(
    "agg_histogram_totalprice",
    oracle=f"""
    SELECT CAST(least(floor((o_totalprice - {HIST_LO}) / (({HIST_HI} - {HIST_LO}) / {HIST_BINS})),
                      {HIST_BINS} - 1) AS INTEGER) AS bin,
           round({HIST_LO} + CAST(least(floor((o_totalprice - {HIST_LO}) / (({HIST_HI} - {HIST_LO}) / {HIST_BINS})),
                      {HIST_BINS} - 1) AS INTEGER) * (({HIST_HI} - {HIST_LO}) / {HIST_BINS}), 2) AS bin_lo,
           count(*) AS n
    FROM orders
    GROUP BY 1, 2
    """,
)
def agg_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (12 bins over a fixed domain) — the value-
    distribution profile behind skew diagnosis and partition sizing.
    Single hash-agg on the bin index; the fixed domain keeps it one
    pass (a data-driven min/max would add a scalar pre-pass, still two
    map-side-combining scans at scale)."""
    width = (HIST_HI - HIST_LO) / HIST_BINS
    bin_idx = F.least(
        F.floor((F.col("o_totalprice") - HIST_LO) / width), F.lit(HIST_BINS - 1)
    ).cast("int")
    return (
        load(spark, sf_dir, "orders")
        .groupBy(bin_idx.alias("bin"), F.round(HIST_LO + bin_idx * width, 2).alias("bin_lo"))
        .agg(F.count("*").alias("n"))
    )


@query("sketch_hll_mergeable")  # DataSketches binary → rows-only check
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch cardinality workflow (Apache DataSketches HLL):
    build one HLL sketch of active users PER DAY, then union the daily
    sketches into a weekly estimate — the pattern that makes distinct
    counts composable at 100 TB (per-partition/per-day sketches persist
    and re-aggregate without touching raw data, unlike count_distinct
    which must re-expand). Emitted next to the exact distinct so the
    test can pin the estimate's error envelope."""
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count_distinct("user_id").alias("exact_daily"),
    )
    return daily.agg(
        F.count("*").alias("n_days"),
        F.sum("exact_daily").alias("sum_daily_exact"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("bigint").alias("est_total_users"),
    )


SKEW_TOP_N = 10


@query(
    "skew_diagnostics_orders",
    oracle=f"""
    WITH per_key AS (
        SELECT o_custkey, count(*) AS n_orders
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT sum(n_orders) AS total, count(*) AS n_keys,
               avg(n_orders) AS mean_per_key
        FROM per_key
    )
    SELECT p.o_custkey, p.n_orders,
           round(CAST(p.n_orders AS DOUBLE) / t.total, 6) AS share,
           round(CAST(p.n_orders AS DOUBLE) / t.mean_per_key, 3)
               AS x_over_mean
    FROM per_key p CROSS JOIN tot t
    ORDER BY p.n_orders DESC, p.o_custkey ASC
    LIMIT {SKEW_TOP_N}
    """,
)
def skew_diagnostics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew report: the {SKEW_TOP_N} heaviest join/agg keys in
    ``orders`` with their share of all rows and multiple-of-mean — the
    diagnostic that names the hot keys behind a straggling join or
    aggregate, whatever the mitigation (AQE's skew-join split on the
    join side, map-side partial aggregation on the aggregate side;
    SURVEY §8.12 records why the engine has no salted rewrite). Run
    this before debugging a straggler, not after.

    Per-key counts are one hash-agg; the totals side is a 1-row agg
    cross-joined back (broadcast-nested-loop over 1 row — constant
    cost); top-N is TakeOrderedAndProject, never a global sort. The
    deterministic (count DESC, key ASC) tiebreak keeps the result
    hash-stable.
    """
    per_key = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    tot = per_key.agg(
        F.sum("n_orders").alias("total"),
        F.count("*").alias("n_keys"),
        F.avg("n_orders").alias("mean_per_key"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "n_orders",
            F.round(F.col("n_orders").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("n_orders").cast("double") / F.col("mean_per_key"), 3
            ).alias("x_over_mean"),
        )
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(SKEW_TOP_N)
    )


@query(
    "dq_constraint_checks",
    oracle="""
    SELECT 'orders_pk_unique' AS constraint_name,
           count(*) - count(DISTINCT o_orderkey) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk', count(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'orders_status_accepted_values',
           count(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'orders_totalprice_positive',
           count(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
                      THEN 1 END)
    FROM orders
    UNION ALL
    SELECT 'documents_nchars_matches_text',
           count(CASE WHEN n_chars <> length(text) THEN 1 END)
    FROM documents
    """,
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint suite — the dbt-test / Deequ-style
    validation pass a pipeline runs before publishing a table: primary-
    key uniqueness, foreign-key integrity, accepted values, range
    checks, derived-column consistency. One row per constraint with its
    violation count (all 0 on healthy data — the query's value is that
    it RUNS the checks distributed, as aggregations, not as row-wise
    assertions).

    Each check is a single agg over one scan (the FK check is an anti
    join — broadcast here, shuffle-join at scale with AQE handling
    skew); checks over the same table could share a scan via one wide
    aggregate, kept separate here for per-constraint clarity and
    independent failure attribution.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    docs = load(spark, sf_dir, "documents")

    pk = orders.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orders_pk_unique").alias("constraint_name"), "n_violations")
    fk = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti"
        )
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("orders_custkey_fk").alias("constraint_name"), "n_violations")
    )
    accepted = orders.agg(
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("n_violations")
    ).select(
        F.lit("orders_status_accepted_values").alias("constraint_name"), "n_violations"
    )
    positive = orders.agg(
        F.count(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            )
        ).alias("n_violations")
    ).select(
        F.lit("orders_totalprice_positive").alias("constraint_name"), "n_violations"
    )
    consistent = docs.agg(
        F.count(F.when(F.col("n_chars") != F.length("text"), 1)).alias("n_violations")
    ).select(
        F.lit("documents_nchars_matches_text").alias("constraint_name"), "n_violations"
    )
    return pk.unionByName(fk).unionByName(accepted).unionByName(positive).unionByName(
        consistent
    )


@query(
    "agg_argmax_events",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id, event_type, value,
               CAST(round(value * 100) AS BIGINT) * 10000000000 + event_id
                   AS ord_key
        FROM {SQL_FINITE_EVENTS} events
    )
    SELECT user_id,
           max_by(event_type, ord_key) AS top_value_type,
           min_by(event_type, ord_key) AS bottom_value_type,
           round(max(value), 2) AS max_value,
           count(*) AS n_events
    FROM keyed
    GROUP BY user_id
    """,
)
def agg_argmax_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user arg-max/arg-min: WHICH event type carried the largest
    (and smallest) value — `max_by`/`min_by`, the lookup-free
    alternative to the groupBy-then-self-join idiom (one hash-agg, no
    second pass, no join).

    Determinism trap: on tied values max_by picks an arbitrary row
    (both engines), which is exactly the kind of silent nondeterminism
    the value-hash gate exists to catch. The ordering key is made
    total by packing (value-cents, event_id) into one BIGINT —
    value·100 is integer-exact for 2-decimal money, and event_id
    uniquifies ties — so both engines' arg-extremes agree bit-for-bit.
    """
    ev = load(spark, sf_dir, "events").withColumn("value", finite(F.col("value")))
    ord_key = (
        F.round(F.col("value") * 100, 0).cast("long") * F.lit(10_000_000_000)
        + F.col("event_id")
    )
    return (
        ev.select("user_id", "event_type", "value", ord_key.alias("ord_key"))
        .groupBy("user_id")
        .agg(
            F.max_by("event_type", "ord_key").alias("top_value_type"),
            F.min_by("event_type", "ord_key").alias("bottom_value_type"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "agg_corr_price_quantity",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 4) AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 2) AS price_qty_covar,
           count(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per return flag: Pearson correlation and
    sample covariance between quantity and extended price — the
    feature-screening aggregate (is this column predictive of that
    one?) that completes the univariate moment suite
    (agg_stats_moments).

    `corr`/`covar_samp` are single-pass co-moment aggregates with
    map-side partials in both engines. Correlation is scale-free and
    numerically tame, so round(4) absorbs summation-order noise
    (~1e-12 here) without the decimal machinery the raw SUMs need;
    covariance is rounded at 2 like the money sums it derives from.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("price_qty_corr"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 2).alias(
            "price_qty_covar"
        ),
        F.count("*").alias("n_items"),
    )


@query(
    "agg_bitwise_boolean_suite",
    oracle="""
    SELECT o_orderpriority,
           bit_and(o_orderkey) AS key_bit_and,
           bit_or(o_orderkey) AS key_bit_or,
           bit_xor(o_orderkey) AS key_bit_xor,
           bool_and(o_totalprice > 1000) AS all_over_1000,
           bool_or(o_orderstatus = 'F') AS any_finished,
           count(*) FILTER (WHERE o_totalprice > 50000) AS n_large
    FROM orders
    GROUP BY 1
    """,
)
def agg_bitwise_boolean_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise and boolean aggregate surface: bit_and / bit_or /
    bit_xor over an integer key plus bool_and / bool_or over
    predicates, and a FILTER-ed conditional count. All are exact
    integer/boolean algebra — associative and commutative, so they
    partial-aggregate map-side and are bit-stable under any
    partitioning (bit_xor in particular is the standard trick for
    cheap order-independent set fingerprints at scale: XOR of row
    hashes detects content drift between two 100 TB snapshots with one
    scan each and an 8-byte comparison).
    """
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").alias("key_bit_and"),
        F.bit_or("o_orderkey").alias("key_bit_or"),
        F.bit_xor("o_orderkey").alias("key_bit_xor"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1000"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.count_if(F.col("o_totalprice") > 50000).alias("n_large"),
    )


@query(
    "agg_collect_ordered_topk",
    oracle="""
    SELECT event_type,
           array_to_string(
               list_transform(
                   (array_agg(event_id ORDER BY value DESC, event_id DESC))[1:5],
                   x -> CAST(x AS VARCHAR)),
               ',') AS top_event_ids
    FROM events
    WHERE value IS NOT NULL
    GROUP BY 1
    """,
)
def agg_collect_ordered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered array aggregation: per event type, the ids of the five
    highest-value events, ordered (value DESC, id DESC so ties are
    total — collect order alone is nondeterministic in ANY distributed
    engine and can never be graded on), serialized as a CSV string.

    Spark has no `array_agg(... ORDER BY)`; the equivalent is
    collect_list of (value, id) structs + array_sort on the struct's
    natural (asc, asc) ordering + reverse + slice + field projection —
    all JVM array expressions, one shuffle. The final concat_ws
    serializes the id array deterministically: graded outputs must be
    scalar columns (array-typed cells crash pandas-side canonicalizers
    downstream — round-5 driver finding), and CSV keeps the element
    order observable. At true scale you'd cap the collect itself with
    a windowed top-k first (window_topk query) — here group
    cardinality is small and the single-agg form is the point.
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sorted_pairs = F.reverse(
        F.array_sort(F.collect_list(F.struct(F.col("value"), F.col("event_id"))))
    )
    return ev.groupBy("event_type").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.slice(sorted_pairs, 1, 5), lambda s: s["event_id"].cast("string")
            ),
        ).alias("top_event_ids")
    )


@query(
    "agg_string_concat_ordered",
    oracle="""
    SELECT r.r_name AS region,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations_csv,
           count(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def agg_string_concat_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg ... ORDER BY):
    the comma-joined, alphabetized nation list per region. Collect
    order is nondeterministic in any distributed engine, so the sort
    must be explicit: collect_list → array_sort → concat_ws gives the
    deterministic equivalent, entirely in JVM array expressions (the
    same shape SQL:2016 LISTAGG ... WITHIN GROUP compiles to).
    Scale note: the aggregated string is unbounded in group size —
    at 100 TB you cap it (slice before concat) or keep the ARRAY form;
    the string form exists because downstream BI contracts want CSV.
    """
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias("nations_csv"),
            F.count("*").alias("n_nations"),
        )
    )


@query(
    "agg_rollup_time_hierarchy",
    oracle=f"""
    SELECT year(o_orderdate) AS o_year,
           quarter(o_orderdate) AS o_quarter,
           month(o_orderdate) AS o_month,
           count(*) AS n_orders,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
               AS total_price
    FROM orders
    GROUP BY ROLLUP (year(o_orderdate), quarter(o_orderdate), month(o_orderdate))
    HAVING count(*) > 0
    """,
)
def agg_rollup_time_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-hierarchy rollup: order counts and exact revenue at
    month, quarter, year, and grand-total grains in ONE pass — the
    time-dimension twin of the geo rollup (region→nation). ROLLUP
    compiles to an Expand node: each input row fans out once per
    grain level and a single hash aggregation handles all levels, so
    the fact table is scanned once, not once per grain (the 100 TB
    alternative — four separate GROUP BYs — is 4 scans and 4
    shuffles). Subtotal rows carry NULL grain keys, exercised by the
    NULL-normalizing compare. Decimal-path sums keep every grain's
    revenue bit-identical.
    """
    o = load(spark, sf_dir, "orders")
    return o.rollup(
        F.year("o_orderdate").alias("o_year"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.month("o_orderdate").alias("o_month"),
    ).agg(
        F.count("*").alias("n_orders"),
        dsum(F.col("o_totalprice"), 2).alias("total_price"),
    )


@query(
    "agg_histogram_equidepth",
    oracle="""
    WITH b AS (
        SELECT o_totalprice,
               ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket, count(*) AS n_rows,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM b GROUP BY 1
    """,
)
def agg_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram: 8 buckets with (near-)equal row counts and
    data-driven boundaries — the complement of agg_histogram_totalprice
    (equi-WIDTH: fixed boundaries, varying counts). Equi-depth is what
    optimizers keep as column statistics, because selectivity per
    bucket is constant by construction.

    ntile needs a total order (o_orderkey tiebreak) to be gradable.
    The lo/hi columns are raw doubles — pure min/max, no arithmetic,
    so bit-safe. Scale note: global ntile = one single-partition
    numbering task (allowlisted under plan-lint R6); the registered
    scale path is agg_histogram_equidepth_localized below — exact
    cutpoints via rank localization, then comparison bucketing, no
    global sort. Both forms ship; this one is the exact anchor.
    """
    o = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    b = o.select("o_totalprice", F.ntile(8).over(w).alias("bucket"))
    return b.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


EQUIDEPTH_K = 8  # buckets in the equi-depth pair (anchor + scale twin)


@query(
    "agg_histogram_equidepth_localized",
    oracle=f"""
    WITH base AS (
        SELECT o_totalprice,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    ranked AS (
        SELECT cents, row_number() OVER (ORDER BY cents) AS rk FROM base
    ),
    cuts AS (
        SELECT r.cents AS cut
        FROM ranked r, stats s,
             unnest(generate_series(1, {EQUIDEPTH_K - 1})) AS g(i)
        WHERE r.rk = (g.i * s.n) // {EQUIDEPTH_K}
    ),
    b AS (
        SELECT b2.o_totalprice,
               1 + (SELECT count(*) FROM cuts c WHERE c.cut < b2.cents)
                   AS bucket
        FROM base b2
    )
    SELECT CAST(bucket AS INT) AS bucket, count(*) AS n_rows,
           min(o_totalprice) AS lo, max(o_totalprice) AS hi
    FROM b GROUP BY 1
    """,
)
def agg_histogram_equidepth_localized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram AT SCALE — the one-pass-per-stage twin of
    agg_histogram_equidepth that replaces the global ntile (one
    single-partition numbering task over the whole fact) with the
    quantile_bucket_localized_exact device generalized to 7 cutpoints:

    1. histogram pass: row counts per $1000 domain bucket — one
       map-side-combinable hash-agg whose output is bounded by the
       price DOMAIN (~500 rows), not the data;
    2. locate: a cumulative over the tiny grid finds, for each target
       rank r_i = (i*n) DIV 8, the bucket containing it and the local
       rank within that bucket (7-row rank grid broadcast onto the
       grid — bounded non-equi);
    3. rescan: only the <=7 located buckets' rows are re-read (the
       locator broadcasts as a pushable bucket filter); the
       r_local-th smallest cents in each sliver IS the exact i/8
       order statistic;
    4. bucket by comparison: every row counts the cutpoints strictly
       below it via one array fold over the broadcast 7-cut array —
       map-side only, no sort, no shuffle beyond the final 8-group
       agg.

    vs the anchor: comparison bucketing cannot split rows with EQUAL
    values across a boundary the way ntile's tiebreak does, so depths
    are equal only up to value ties — the documented trade every
    statistics-collection pipeline makes. Cutpoints are EXACT order
    statistics (not approx_percentile), so the DuckDB oracle (full
    sort row_number — the opposite, quadratic-at-scale construction)
    hash-matches bit-for-bit: cents via the DECIMAL(25,2)x100 device,
    ranks via DIV, lo/hi raw min/max doubles.

    100 TB: three pruned 2-column scans (histogram, sliver, bucket)
    and bounded intermediates everywhere — the single-partition stages
    touch only the ~500-row aggregated grid. This is what ANALYZE
    TABLE-style stats collection runs at warehouse scale.
    """
    base = load(spark, sf_dir, "orders").select(
        "o_totalprice",
        exact_cents(F.col("o_totalprice")).alias("cents"),
    )
    hist = base.groupBy(
        F.expr(f"cents DIV {QUANTILE_BUCKET_CENTS}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    gw = Window.orderBy("bucket")
    grid = hist.select(
        "bucket",
        "cnt",
        F.sum("cnt").over(gw).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ranks = spark.range(1, EQUIDEPTH_K).select(F.col("id").alias("i"))
    located = (
        grid.crossJoin(F.broadcast(ranks))
        .withColumn("r", F.expr(f"(i * n) DIV {EQUIDEPTH_K}"))
        .filter(
            (F.col("cum") >= F.col("r"))
            & (F.col("cum") - F.col("cnt") < F.col("r"))
        )
        .select(
            "i",
            "bucket",
            (F.col("r") - (F.col("cum") - F.col("cnt"))).alias("r_local"),
        )
    )
    sliver = base.withColumn(
        "bucket", F.expr(f"cents DIV {QUANTILE_BUCKET_CENTS}")
    ).join(F.broadcast(located), "bucket")
    lw = Window.partitionBy("i").orderBy("cents")
    cuts = (
        sliver.withColumn("rk", F.row_number().over(lw))
        .filter(F.col("rk") == F.col("r_local"))
        .select(F.col("cents").alias("cut"))
    )
    cuts_arr = cuts.agg(F.sort_array(F.collect_list("cut")).alias("cuts"))
    b = base.crossJoin(F.broadcast(cuts_arr)).select(
        "o_totalprice",
        (
            F.lit(1)
            + F.expr(
                "aggregate(cuts, 0,"
                " (acc, c) -> acc + CASE WHEN c < cents THEN 1 ELSE 0 END)"
            )
        )
        .cast("int")
        .alias("bucket"),
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


CM_DEPTHS = 4  # independent hash rows; P(all 4 collide on a heavy key) ~ (1/256)^4
CM_TOP = 10


@query(
    "sketch_countmin_heavy_hitters",
    oracle=f"""
    WITH rows_d AS (
        SELECT o_custkey, g.d,
               substr(md5('cm' || CAST(g.d AS VARCHAR) || '|'
                          || CAST(o_custkey AS VARCHAR)), 1, 2) AS bucket
        FROM orders, unnest(generate_series(0, {CM_DEPTHS - 1})) AS g(d)
    ), sketch AS (
        SELECT d, bucket, count(*) AS c FROM rows_d GROUP BY 1, 2
    ), cand AS (
        SELECT DISTINCT o_custkey, d, bucket FROM rows_d
    ), est AS (
        SELECT cand.o_custkey, min(s.c) AS est_n
        FROM cand JOIN sketch s ON cand.d = s.d AND cand.bucket = s.bucket
        GROUP BY 1
    ), truth AS (
        SELECT o_custkey, count(*) AS true_n FROM orders GROUP BY 1
    )
    SELECT e.o_custkey, e.est_n, t.true_n
    FROM est e JOIN truth t ON e.o_custkey = t.o_custkey
    ORDER BY e.est_n DESC, e.o_custkey ASC
    LIMIT {CM_TOP}
    """,
)
def sketch_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch heavy hitters — fully deterministic and
    oracle-checked, unlike most sketch demos: the hash rows are hex
    prefixes of md5 (identical in every engine), so the sketch, the
    min-estimate, and the top-10 ranking are all bit-reproducible.

    The sketch is a FIXED 4×256 counter grid regardless of input size
    — each row increments one bucket per depth, the grid is mergeable
    by cell-wise addition (per-day grids sum into a month), and
    estimate(key) = min over depths of its bucket counts, an upper
    bound on the true count that the output exposes side-by-side with
    the exact count (est_n >= true_n always; equality when no
    collision). At 100 TB: build is one hash-agg over (depth, bucket)
    — 1024 cells of state, partial-aggregated map-side; estimates
    broadcast the 1024-cell grid to join candidates. The md5-prefix
    bucket trick costs more than xxhash64 (the production choice) but
    buys engine portability — same trade as the sampling family.
    """
    o = load(spark, sf_dir, "orders").select("o_custkey")
    rows_d = o.select(
        "o_custkey", F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTHS - 1))).alias("d")
    ).withColumn(
        "bucket",
        F.substring(
            F.md5(
                F.concat(
                    F.lit("cm"),
                    F.col("d").cast("string"),
                    F.lit("|"),
                    F.col("o_custkey").cast("string"),
                )
            ),
            1,
            2,
        ),
    )
    sketch = rows_d.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    cand = rows_d.distinct()
    est = (
        cand.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("o_custkey")
        .agg(F.min("c").alias("est_n"))
    )
    truth = o.groupBy("o_custkey").agg(F.count("*").alias("true_n"))
    return (
        est.join(truth, "o_custkey")
        .orderBy(F.desc("est_n"), F.asc("o_custkey"))
        .limit(CM_TOP)
    )


@query("agg_approx_percentiles")  # t-digest-style sketch ≠ DuckDB's → rows-only
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path: approx_percentile builds a mergeable
    quantile sketch in one pass — no global sort, bounded memory —
    where the exact interpolated form (agg_percentiles_quantity, the
    correctness anchor) needs the full sorted column. Accuracy
    parameter 10000 bounds rank error to ~0.01%; the unit layer pins
    the estimates against the exact percentiles.
    """
    li = load(spark, sf_dir, "lineitem")
    pct = F.expr(
        "approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75), 10000)"
    )
    return li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.get(pct, 0).alias("p25_approx"),
        F.get(pct, 1).alias("p50_approx"),
        F.get(pct, 2).alias("p75_approx"),
        F.count("*").alias("n_rows"),
    )


@query(
    "chi_square_priority_status",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s, count(*) AS o
        FROM orders GROUP BY 1, 2
    ), rt AS (SELECT p, sum(o) AS rn FROM obs GROUP BY 1),
       ct AS (SELECT s, sum(o) AS cn FROM obs GROUP BY 1),
       t  AS (SELECT sum(o) AS n FROM obs)
    SELECT ((CAST(CAST((CAST(CAST(round(sum(CAST(
               pow(o - rn * cn / CAST(n AS DOUBLE), 2)
               / (rn * cn / CAST(n AS DOUBLE)) AS DECIMAL(25,10))), 4) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(
               pow(o - rn * cn / CAST(n AS DOUBLE), 2)
               / (rn * cn / CAST(n AS DOUBLE)) AS DECIMAL(25,10))), 4) * 10000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(
               pow(o - rn * cn / CAST(n AS DOUBLE), 2)
               / (rn * cn / CAST(n AS DOUBLE)) AS DECIMAL(25,10))), 4) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS chi2,
           (count(DISTINCT obs.p) - 1) * (count(DISTINCT obs.s) - 1) AS dof,
           CAST(any_value(t.n) AS BIGINT) AS n_rows
    FROM obs
    JOIN rt ON obs.p = rt.p
    JOIN ct ON obs.s = ct.s
    CROSS JOIN t
    """,
)
def chi_square_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status — the categorical-association screen run before
    treating a column pair as independent in a sampling or modeling
    plan. Expected counts e = row_total · col_total / N come from
    exact integers, each cell's (o−e)²/e is deterministic double
    arithmetic (multiply/divide only — no libm), and the CELL
    contributions are summed as DECIMAL(25,10): a raw double sum of
    even 15 cells is addition-order-dependent, which is exactly the
    nondeterminism the decimal-sum rule exists to kill.

    Plan: one hash-agg builds the contingency table (≤ |P|×|S| cells);
    the margins are aggregates OF that tiny table, broadcast back.
    The fact table is scanned once regardless of category counts.
    """
    o = load(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
    ).agg(F.count("*").alias("o"))
    rt = obs.groupBy("p").agg(F.sum("o").alias("rn"))
    ct = obs.groupBy("s").agg(F.sum("o").alias("cn"))
    t = obs.agg(F.sum("o").alias("n"))
    e = F.col("rn") * F.col("cn") / F.col("n").cast("double")
    contrib = F.pow(F.col("o") - e, F.lit(2)) / e
    return (
        obs.join(F.broadcast(rt), "p")
        .join(F.broadcast(ct), "s")
        .crossJoin(F.broadcast(t))
        .agg(
            ddbl(F.round(F.sum(contrib.cast("decimal(25,10)")), 4), 4)
            .alias("chi2"),
            (
                (F.count_distinct("p") - 1) * (F.count_distinct("s") - 1)
            ).alias("dof"),
            F.any_value("n").alias("n_rows"),
        )
    )


@query(
    "agg_grouping_id_labels",
    oracle=f"""
    SELECT CASE GROUPING(o_orderstatus, o_orderpriority)
                WHEN 0 THEN 'cell'
                WHEN 1 THEN 'by_status'
                WHEN 2 THEN 'by_priority'
                ELSE 'total' END AS grain,
           o_orderstatus AS orderstatus,
           o_orderpriority AS priority,
           count(*) AS n_orders,
           {sql_dsum("o_totalprice", 2)} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    HAVING count(*) > 0
    """,
)
def agg_grouping_id_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with explicit grain labels via grouping_id(): subtotal rows
    in a cube carry NULL grain keys, which are ambiguous when the DATA
    also contains NULLs — grouping_id() is the disambiguator (a
    bitmask: bit i set = column i rolled up), here decoded into
    human-readable grain names. Spark's grouping_id() and standard
    GROUPING(a, b) produce the same bitmask, so the CASE ladder is
    literally identical in both engines. Same single-scan Expand plan
    as the other cube/rollup queries; the label is a zero-cost
    projection on the aggregated frame.
    """
    o = load(spark, sf_dir, "orders")
    grain = (
        F.when(F.col("gid") == 0, "cell")
        .when(F.col("gid") == 1, "by_status")
        .when(F.col("gid") == 2, "by_priority")
        .otherwise("total")
    )
    return (
        o.cube(
            F.col("o_orderstatus").alias("orderstatus"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            # grouping_id() is only resolvable inside the cube's agg
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            grain.alias("grain"), "orderstatus", "priority", "n_orders", "total_price"
        )
    )


@query(
    "agg_weighted_average_price",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               sum(CAST(l_extendedprice AS DECIMAL(25,6))
                   * CAST(l_quantity AS DECIMAL(25,6))) AS wsum,
               sum(CAST(l_quantity AS DECIMAL(25,6))) AS wtot
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           round(((CAST(CAST((CAST(CAST(wsum * 1000000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(wsum * 1000000000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(wsum * 1000000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000000000 AS DOUBLE))
                 / ((CAST(CAST((CAST(CAST(wtot * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(wtot * 1000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(wtot * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000 AS DOUBLE)), 4)
               AS weighted_avg_price,
           ((CAST(CAST((CAST(CAST(round(wtot, 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(wtot, 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(wtot, 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS total_quantity
    FROM s
    """,
)
def agg_weighted_average_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted mean price — the aggregate a plain avg()
    silently gets wrong whenever weights vary (a 1-unit line and a
    50-unit line are not the same evidence). Both the weighted sum and
    the weight total are exact decimal sums (decimal×decimal multiply
    is exact; partial aggregation is order-free), so the one
    unavoidable division runs on identical doubles in both engines —
    via the DuckDB VARCHAR hop — and rounds at 4 with ulp-free
    headroom. One fact-table shuffle, map-side partials.
    """
    li = load(spark, sf_dir, "lineitem")
    wsum = F.sum(
        F.col("l_extendedprice").cast("decimal(25,6)")
        * F.col("l_quantity").cast("decimal(25,6)")
    )
    wtot = F.sum(F.col("l_quantity").cast("decimal(25,6)"))
    # r13 (plan-lint R9): both sums grow with scale - d53s split in
    # place of the bare casts / the oracle VARCHAR hop.
    return li.groupBy("l_returnflag").agg(
        F.round(ddbl(wsum, 12) / ddbl(wtot, 6), 4).alias(
            "weighted_avg_price"
        ),
        ddbl(F.round(wtot, 2), 2).alias("total_quantity"),
    )


# -- Statistics completion: regression aggregates, deterministic mode --------


@query(
    "agg_regression_quantity_price",
    oracle="""
    WITH s AS (
        SELECT l_returnflag AS flag,
               count(*) AS n,
               ((CAST(CAST((CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS sx,
               ((CAST(CAST((CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS sy,
               ((CAST(CAST((CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS sxy,
               ((CAST(CAST((CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS sxx,
               ((CAST(CAST((CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) * 10000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(10000 AS DOUBLE)) AS syy
        FROM lineitem GROUP BY 1
    )
    SELECT flag, n,
           round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
           round((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) * sx)
               / n, 4) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
               / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 8) AS r2
    FROM s
    """,
)
def agg_regression_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope/intercept/r2 surface)
    of extendedprice on quantity per return flag — WITHOUT the builtin
    regr_* functions, which accumulate order-dependent double sums and
    can never hash-match across engines. Instead the five sufficient
    statistics (Sx, Sy, Sxy, Sxx, Syy) are summed as EXACT decimals
    (DECIMAL(12,2) inputs; products stay inside precision 38 untouched
    by Spark's scale-adjustment), converted once through the
    deterministic d53s split (r13 — this query's own >2^53 unscaled
    sums were the first OBSERVED instance of the build-dependent
    int128→double class, a 1-ulp difference at sf0.001 that the
    rounding margins papered over until the r12 driver made the class
    fail loudly elsewhere), and the closed-form slope/intercept/r²
    computed in doubles rounded at 6/4/8 decimals.

    One fact-table scan, one partial+final hash aggregation on a
    3-value key; the formula runs on 3 aggregated rows.
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        # r13 (plan-lint R9): the five sufficient sums grow with data
        # scale — each converts through the ddbl/d53s split, closing
        # the documented 1-ulp DuckDB int128 gap for good.
        ddbl(F.sum(x), 2).alias("sx"),
        ddbl(F.sum(y), 2).alias("sy"),
        ddbl(F.sum(x * y), 4).alias("sxy"),
        ddbl(F.sum(x * x), 4).alias("sxx"),
        ddbl(F.sum(y * y), 4).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    # NULLIF-style zero guards: a degenerate group (constant x or y)
    # must yield NULL in BOTH engines — Spark's non-ANSI double divide
    # returns NULL on /0 but DuckDB's returns inf/NaN, so the oracle
    # carries NULLIF and the plan nulls the denominator explicitly.
    var_x_n = F.nullif(
        n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    var_y_n = F.nullif(
        n * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0)
    )
    slope = cov_n / var_x_n
    return s.select(
        "flag",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n, 4).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x_n * var_y_n), 8).alias("r2"),
    )


@query(
    "agg_mode_priority",
    oracle="""
    WITH c AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ), r AS (
        SELECT o_orderstatus, o_orderpriority, cnt,
               row_number() OVER (
                   PARTITION BY o_orderstatus
                   ORDER BY cnt DESC, o_orderpriority
               ) AS rn
        FROM c
    )
    SELECT o_orderstatus, o_orderpriority AS mode_priority,
           cnt AS n_orders
    FROM r WHERE rn = 1
    """,
)
def agg_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode() with a DETERMINISTIC tie-break: the most frequent order
    priority per status, ties resolved to the lexicographically
    smallest value. Neither engine's builtin mode() specifies its
    tie-break (Spark's mode() and DuckDB's mode() may legally
    disagree), so the gradable form is the explicit count → rank →
    take-first ladder — which is also exactly how a mode over a
    100 TB fact table should run: pre-aggregate to the (group, value)
    grain FIRST (two-phase hash agg shrinks the window input to the
    distinct-value space), then a WindowGroupLimit-eligible
    row_number over the tiny aggregate.
    """
    o = load(spark, sf_dir, "orders")
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("cnt"), F.asc("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic mergeable sketches II (round 5): KMV distinct-count and
# Bloom membership — like the Count-Min grid above, built from md5-hex
# so the sketch bits, the estimates, and the error rows are
# bit-reproducible in any engine and therefore ORACLE-CHECKED, not just
# invariant-tested. (Production would swap md5 for xxhash64; the
# structure — fixed-size state, cell-wise/set-wise merge — is the point.)
# ---------------------------------------------------------------------------

KMV_K = 64  # sketch size: relative error ~ 1/sqrt(K) ~ 12.5%
_HEX12 = 16**12


def _user_day_keys(ev: DataFrame) -> DataFrame:
    """Distinct (event_type, k) pairs with k = "user_id|yyyy-MM-dd" over
    the events with a timestamp (a user-day needs a day; a NULL key's
    sort placement is engine-divergent)."""
    return (
        ev.filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.date_format("ts", "yyyy-MM-dd"),
            ).alias("k"),
        )
        .distinct()
    )


@query(
    "sketch_kmv_distinct_userdays",
    oracle=f"""
    WITH keyed AS (
        SELECT DISTINCT event_type,
               CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d') AS k
        FROM events WHERE ts IS NOT NULL
    ), hashed AS (
        SELECT event_type, md5('kmv|' || k) AS h FROM keyed
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ), truth AS (
        SELECT event_type, count(*) AS n_true FROM hashed GROUP BY 1
    ), kth AS (
        SELECT event_type, max(h) AS kth_h, count(*) AS in_sk
        FROM ranked WHERE rn <= {KMV_K} GROUP BY 1
    ), per_type AS (
        SELECT t.event_type, t.n_true,
               CASE WHEN k.in_sk < {KMV_K} THEN t.n_true
                    ELSE ({KMV_K - 1} * {_HEX12})
                         // {sql_hex_to_long('k.kth_h', 12)} END AS est_distinct
        FROM truth t JOIN kth k USING (event_type)
    ), g_hash AS (
        SELECT DISTINCT h FROM hashed
    ), g_rank AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM g_hash
    ), g AS (
        SELECT '__all__' AS event_type,
               (SELECT count(*) FROM g_hash) AS n_true,
               CASE WHEN count(*) < {KMV_K} THEN (SELECT count(*) FROM g_hash)
                    ELSE ({KMV_K - 1} * {_HEX12})
                         // {sql_hex_to_long('max(h)', 12)} END AS est_distinct
        FROM g_rank WHERE rn <= {KMV_K}
    ), unioned AS (
        SELECT * FROM per_type UNION ALL SELECT * FROM g
    )
    SELECT event_type, n_true, CAST(est_distinct AS BIGINT) AS est_distinct,
           CAST(abs(est_distinct - n_true) * 10000 // n_true AS BIGINT) AS err_bp
    FROM unioned
    """,
)
def sketch_kmv_distinct_userdays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch over daily active
    user-days per event type, plus a '__all__' row whose estimate is
    produced by MERGING the per-type sketches (union of k-min sets,
    re-rank, keep k smallest) — the union-merge identity of KMV: if a
    hash is among the global k smallest, fewer than k hashes in its own
    type are smaller, so it is in that type's sketch. The oracle
    computes the global sketch directly from scratch, so the hash match
    PROVES the merge lossless, not just plausible.

    Estimate = (k-1) * 16^12 DIV kth_min_hash_value — all-integer
    arithmetic (no float division to drift cross-engine); groups
    smaller than k report exactly. True distinct and error basis
    points ship alongside, so the ~1/sqrt(k) error claim is graded.

    At 100 TB: state is k 12-byte hashes per group regardless of input
    (vs count_distinct's full key shuffle); sketches merge by set-union
    + re-rank, so per-partition/per-day sketches roll up without
    touching raw data again. The per-type rank is a window over
    event_type (one narrow shuffle of distinct hashes); the merged rank
    orders <= 5k surviving hashes — driver-scale by construction.
    """
    K = KMV_K
    keyed = _user_day_keys(load(spark, sf_dir, "events"))
    hashed = keyed.select(
        "event_type", F.md5(F.concat(F.lit("kmv|"), F.col("k"))).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = hashed.withColumn("rn", F.row_number().over(w))
    truth = hashed.groupBy("event_type").agg(F.count("*").alias("n_true"))
    kth = (
        ranked.filter(F.col("rn") <= K)
        .groupBy("event_type")
        .agg(F.max("h").alias("kth_h"), F.count("*").alias("in_sk"))
    )
    est_expr = F.when(F.col("in_sk") < K, F.col("n_true")).otherwise(
        F.expr(f"({K - 1} * {_HEX12}) DIV {sql_hex_to_long('kth_h', 12)}")
    )
    per_type = truth.join(kth, "event_type").select(
        "event_type", "n_true", est_expr.alias("est_distinct")
    )
    # merged '__all__': union of the per-type k-min sets, re-ranked
    g_hash = hashed.select("h").distinct()
    merged = (
        ranked.filter(F.col("rn") <= K)
        .select("h")
        .distinct()
        .orderBy("h")
        .limit(K)
        .agg(F.max("h").alias("kth_h"), F.count("*").alias("in_sk"))
    )
    g = (
        merged.crossJoin(
            F.broadcast(g_hash.agg(F.count("*").alias("n_true")))
        )
        .select(
            F.lit("__all__").alias("event_type"),
            "n_true",
            est_expr.alias("est_distinct"),
        )
    )
    out = per_type.unionByName(g)
    return out.select(
        "event_type",
        "n_true",
        F.col("est_distinct").cast("bigint").alias("est_distinct"),
        F.expr(
            "CAST(abs(est_distinct - n_true) * 10000"
            " DIV nullif(n_true, 0) AS BIGINT)"
        ).alias(
            "err_bp"
        ),
    )


BF_HASHES = 4


@query(
    "sketch_bloom_membership",
    oracle=f"""
    WITH members AS (
        SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 490000
    ), bloom AS (
        SELECT DISTINCT g.j,
               {sql_hex_to_long("substr(md5('bf' || CAST(g.j AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)), 1, 3)", 3)} AS pos
        FROM members, unnest(generate_series(0, {BF_HASHES - 1})) AS g(j)
    ), probes AS (
        SELECT c.c_custkey, g.j,
               {sql_hex_to_long("substr(md5('bf' || CAST(g.j AS VARCHAR) || '|' || CAST(c.c_custkey AS VARCHAR)), 1, 3)", 3)} AS pos
        FROM customer c, unnest(generate_series(0, {BF_HASHES - 1})) AS g(j)
    ), hits AS (
        SELECT p.c_custkey,
               count(b.pos) AS nhit
        FROM probes p LEFT JOIN bloom b ON b.j = p.j AND b.pos = p.pos
        GROUP BY 1
    ), labeled AS (
        SELECT h.c_custkey,
               CASE WHEN h.nhit = {BF_HASHES} THEN 1 ELSE 0 END AS maybe,
               CASE WHEN m.o_custkey IS NULL THEN 0 ELSE 1 END AS is_member
        FROM hits h LEFT JOIN members m ON m.o_custkey = h.c_custkey
    )
    SELECT count(*) AS probed,
           CAST(sum(is_member) AS BIGINT) AS members,
           CAST(sum(maybe) AS BIGINT) AS maybe_cnt,
           CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_pos,
           CAST(sum(CASE WHEN maybe = 0 AND is_member = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_neg,
           CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                * 10000 // (count(*) - sum(is_member)) AS BIGINT) AS fp_bp
    FROM labeled
    """,
)
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership: build a 4096-bit / 4-hash
    filter over the 'premium customer' id set (any order > 490k), probe
    EVERY customer through it, and grade the filter against exact
    membership: false_neg must be 0 (the Bloom guarantee), false_pos
    is the measured cost of the space saving, reported in basis points
    of the true-negative population.

    Bit positions are 3-hex-char md5 prefixes (exactly 16^3 = 4096
    buckets — no modulo bias), so filter bits and counts are
    bit-identical cross-engine and the whole contraption oracle-checks.

    At 100 TB this is the semi-join pruning primitive: the filter is
    <= 4096 set bits per hash row regardless of member-set size,
    broadcasts to every probe task for free (vs shuffling the full id
    set for an exact semi-join), and merges across partitions by bit-OR
    (set union of (j, pos) rows). Spark's own runtime row-level
    filtering speaks the same trick (spark.sql.optimizer.runtime.
    bloomFilter.enabled); this one is engine-independent and graded.
    """
    js = F.explode(F.sequence(F.lit(0), F.lit(BF_HASHES - 1))).alias("j")
    members = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 490000)
        .select("o_custkey")
        .distinct()
    )
    bloom = (
        members.select("o_custkey", js)
        .withColumn(
            "pos",
            F.expr(
                sql_hex_to_long(
                    "substr(md5('bf' || CAST(j AS STRING) || '|' "
                    "|| CAST(o_custkey AS STRING)), 1, 3)",
                    3,
                )
            ),
        )
        .select("j", "pos")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probes = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", js)
        .withColumn(
            "pos",
            F.expr(
                sql_hex_to_long(
                    "substr(md5('bf' || CAST(j AS STRING) || '|' "
                    "|| CAST(c_custkey AS STRING)), 1, 3)",
                    3,
                )
            ),
        )
    )
    hits = (
        probes.join(F.broadcast(bloom), ["j", "pos"], "left")
        .groupBy("c_custkey")
        .agg(F.count("hit").alias("nhit"))
    )
    labeled = hits.join(
        F.broadcast(members), hits.c_custkey == members.o_custkey, "left"
    ).select(
        (F.col("nhit") == BF_HASHES).cast("int").alias("maybe"),
        F.col("o_custkey").isNotNull().cast("int").alias("is_member"),
    )
    return labeled.agg(
        F.count("*").alias("probed"),
        F.sum("is_member").cast("bigint").alias("members"),
        F.sum("maybe").cast("bigint").alias("maybe_cnt"),
        F.sum(((F.col("maybe") == 1) & (F.col("is_member") == 0)).cast("int"))
        .cast("bigint")
        .alias("false_pos"),
        F.sum(((F.col("maybe") == 0) & (F.col("is_member") == 1)).cast("int"))
        .cast("bigint")
        .alias("false_neg"),
        F.expr(
            "CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)"
            " * 10000 DIV (count(*) - sum(is_member)) AS BIGINT)"
        ).alias("fp_bp"),
    )


@query(
    "sketch_kmv_intersection",
    oracle=f"""
    WITH keyed AS (
        SELECT DISTINCT event_type,
               CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d') AS k
        FROM events WHERE event_type IN ('click', 'purchase')
          AND ts IS NOT NULL
    ), hashed AS (
        SELECT event_type, k, md5('kmv|' || k) AS h FROM keyed
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ), per_side AS (
        SELECT event_type,
               ({KMV_K - 1} * {_HEX12})
               // {sql_hex_to_long('max(h)', 12)} AS est
        FROM ranked WHERE rn <= {KMV_K} GROUP BY 1
    ), merged AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn
        FROM (SELECT DISTINCT h FROM ranked WHERE rn <= {KMV_K})
    ), est_u AS (
        SELECT ({KMV_K - 1} * {_HEX12})
               // {sql_hex_to_long('max(h)', 12)} AS est_union
        FROM merged WHERE rn <= {KMV_K}
    ), truth AS (
        SELECT count(*) AS true_inter FROM (
            SELECT k FROM keyed GROUP BY k HAVING count(*) = 2)
    )
    SELECT CAST(a.est AS BIGINT) AS est_click,
           CAST(b.est AS BIGINT) AS est_purchase,
           CAST(u.est_union AS BIGINT) AS est_union,
           CAST(CASE WHEN a.est + b.est - u.est_union < 0 THEN 0
                     ELSE a.est + b.est - u.est_union END AS BIGINT)
               AS est_inter,
           CAST(t.true_inter AS BIGINT) AS true_inter
    FROM (SELECT est FROM per_side WHERE event_type = 'click') a,
         (SELECT est FROM per_side WHERE event_type = 'purchase') b,
         est_u u, truth t
    """,
)
def sketch_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA: estimate |A ∩ B| for the click vs
    purchase user-day sets by inclusion-exclusion over three sketch
    estimates — est(A) + est(B) − est(A ∪ B), where the union estimate
    comes from MERGING the two k-min sets (never from rehashing the
    union; floored at 0 since the difference of estimates can go
    negative at small overlaps). The exact intersection ships
    alongside, grading the error like the other sketch rows.

    This is the sketch workflow at 100 TB: per-segment KMV sketches
    are tiny persisted state (k hashes each), and ANY pairwise
    overlap/union question across segments is answered from sketches
    alone — no re-scan, no exact distinct-join. All-integer estimates
    (the (k−1)·16¹² DIV kth device), so the whole derivation is
    oracle-checked, including the merge.
    """
    K = KMV_K
    keyed = _user_day_keys(
        load(spark, sf_dir, "events").filter(
            F.col("event_type").isin("click", "purchase")
        )
    )
    hashed = keyed.select(
        "event_type", "k", F.md5(F.concat(F.lit("kmv|"), F.col("k"))).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= K
    )
    est_kth = F.expr(f"({K - 1} * {_HEX12}) DIV {sql_hex_to_long('kth', 12)}")
    per_side = topk.groupBy("event_type").agg(F.max("h").alias("kth")).select(
        "event_type", est_kth.alias("est")
    )
    merged = (
        topk.select("h")
        .distinct()
        .orderBy("h")
        .limit(K)
        .agg(F.max("h").alias("kth"))
        .select(est_kth.alias("est_union"))
    )
    truth = (
        keyed.groupBy("k")
        .agg(F.count("*").alias("sides"))
        .filter(F.col("sides") == 2)
        .agg(F.count("*").alias("true_inter"))
    )
    a = per_side.filter(F.col("event_type") == "click").select(
        F.col("est").alias("est_click")
    )
    b = per_side.filter(F.col("event_type") == "purchase").select(
        F.col("est").alias("est_purchase")
    )
    return (
        a.crossJoin(b)
        .crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("est_click").cast("bigint").alias("est_click"),
            F.col("est_purchase").cast("bigint").alias("est_purchase"),
            F.col("est_union").cast("bigint").alias("est_union"),
            F.expr(
                "CAST(CASE WHEN est_click + est_purchase - est_union < 0 THEN 0 "
                "ELSE est_click + est_purchase - est_union END AS BIGINT)"
            ).alias("est_inter"),
            F.col("true_inter").cast("bigint").alias("true_inter"),
        )
    )


K_ANON_THRESHOLD = 5


@query(
    "dq_k_anonymity_audit",
    oracle=f"""
    WITH cells AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               count(*) AS group_size
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT segment, nation, CAST(group_size AS BIGINT) AS group_size,
           CASE WHEN group_size < {K_ANON_THRESHOLD} THEN 1 ELSE 0 END
               AS below_k
    FROM cells
    WHERE group_size < {K_ANON_THRESHOLD * 4}
    """,
)
def dq_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers: group the population
    by the attribute combination an adversary could link on
    (market segment x nation here), and surface every cell whose size
    approaches or breaks the k=5 (K_ANON_THRESHOLD) floor — rows in a
    below-k cell are re-identifiable by their quasi-identifiers alone,
    the privacy check that complements regex PII redaction
    (text_pii_redaction scrubs direct identifiers; this catches the
    INDIRECT ones). The release action on a below-k cell is suppress
    or generalize (coarsen nation to region), both expressible as a
    follow-up join against this audit table.

    Scale shape: one hash-aggregation at quasi-identifier grain — the
    audit table is as small as the identifier domain, never the
    population; the near-threshold filter (< 4k) keeps only the cells
    a release reviewer must look at.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.count("*").alias("group_size"))
    )
    return cells.filter(
        F.col("group_size") < K_ANON_THRESHOLD * 4
    ).select(
        "segment",
        "nation",
        F.col("group_size").cast("bigint").alias("group_size"),
        F.when(F.col("group_size") < K_ANON_THRESHOLD, 1)
        .otherwise(0)
        .alias("below_k"),
    )


@query(
    "dq_l_diversity_audit",
    oracle="""
    WITH tagged AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               least(CAST(floor(greatest(c.c_acctbal, 0) / 2000) AS BIGINT), 4)
                   AS bal_bracket
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), cells AS (
        SELECT segment, nation,
               count(*) AS group_size,
               count(DISTINCT bal_bracket) AS n_sensitive_values
        FROM tagged GROUP BY 1, 2
    )
    SELECT segment, nation, CAST(group_size AS BIGINT) AS group_size,
           CAST(n_sensitive_values AS BIGINT) AS n_sensitive_values,
           CASE WHEN n_sensitive_values < 3 THEN 1 ELSE 0 END AS below_l
    FROM cells
    WHERE n_sensitive_values < 5
    """,
)
def dq_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a cell can
    be large (k-safe) yet have every member share the SAME sensitive
    value, so linking someone to the cell still discloses the value
    (homogeneity attack, Machanavajjhala et al. 2007). Same
    quasi-identifier grain as dq_k_anonymity_audit (segment x
    nation); sensitive attribute = the coarse balance bracket
    (5 buckets via exact integer floor-division — engine-stable).
    A cell with fewer than l=3 distinct brackets is flagged; the
    release fix is generalizing the QI or suppressing the cell, and
    the two audits are designed to be run as a pair.

    Scale: count(DISTINCT sensitive) at QI grain is the one
    expand-style aggregate here — Spark plans it as a two-phase
    (QI, sensitive)-grain partial then QI-grain distinct-count, both
    hash aggregations on the small audit domain, never a window over
    the population.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    bracket = F.least(
        F.floor(F.greatest(F.col("c_acctbal"), F.lit(0)) / 2000).cast("long"),
        F.lit(4).cast("long"),
    )
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            bracket.alias("bal_bracket"),
        )
        .groupBy("segment", "nation")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("bal_bracket").alias("n_sensitive_values"),
        )
    )
    return cells.filter(F.col("n_sensitive_values") < 5).select(
        "segment",
        "nation",
        F.col("group_size").cast("bigint").alias("group_size"),
        F.col("n_sensitive_values").cast("bigint").alias("n_sensitive_values"),
        F.when(F.col("n_sensitive_values") < 3, 1).otherwise(0).alias("below_l"),
    )


@query(
    "agg_listagg_native",
    oracle="""
    SELECT n.n_name AS nation,
           string_agg(DISTINCT c.c_mktsegment, '|' ORDER BY c.c_mktsegment)
               AS segments,
           count(*) AS n_customers
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
)
def agg_listagg_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native LISTAGG (Spark 4's ANSI string aggregation — `listagg(x,
    sep) WITHIN GROUP (ORDER BY ...)`) vs DuckDB's string_agg ORDER BY
    twin: distinct market segments per nation as one ordered
    delimiter-joined string. The ORDER BY inside the aggregate is what
    makes a string aggregation gradable at all — unordered
    concatenation is nondeterministic under any parallel execution.
    Complements agg_string_concat_ordered, which builds the same
    contract manually (collect_list → array_sort → concat_ws) for
    engines/versions without the native form; both now grade.
    """
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.expr(
                "listagg(DISTINCT c_mktsegment, '|')"
                " WITHIN GROUP (ORDER BY c_mktsegment)"
            ).alias("segments"),
            F.count("*").alias("n_customers"),
        )
    )


@query(
    "agg_percentile_disc_prices",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice, l_orderkey,
                                           l_linenumber) AS rn,
               count(*) OVER (PARTITION BY l_returnflag) AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           max(CASE WHEN rn = (n + 3) // 4 THEN l_extendedprice END)
               AS p25_disc,
           max(CASE WHEN rn = (n + 1) // 2 THEN l_extendedprice END)
               AS p50_disc,
           max(CASE WHEN rn = (3 * n + 3) // 4 THEN l_extendedprice END)
               AS p75_disc
    FROM ranked GROUP BY 1
    """,
)
def agg_percentile_disc_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles (rank-picked order statistics at positions
    ceil(q*n)) on an arbitrary-double column — the contract that stays
    cross-engine exact where INTERPOLATED percentiles are fragile: a
    picked value is an element of the data (zero arithmetic), while
    cont-percentile midpoint formulas can differ between engines in
    the last ulp on non-integer data. The exact-interpolated anchor
    (agg_percentiles_quantity) runs on an integer-valued column for
    precisely that reason; this completes the pair on the
    arbitrary-double side. Spec'd as an explicit rank pick in BOTH
    engines (DuckDB's own quantile_disc uses a different position
    convention, so the spec is the common ground, not a built-in).

    Scale: one window pass per group + a group agg — at 100 TB you'd
    swap the global sort per group for approx_percentile and keep the
    same call shape; this is the exact anchor for that path.
    """
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    ranked = (
        load(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("l_returnflag")))
    )

    def pick(pos_expr: str, name: str):
        return F.max(
            F.when(F.expr(f"rn = {pos_expr}"), F.col("l_extendedprice"))
        ).alias(name)

    return ranked.groupBy("l_returnflag").agg(
        pick("(n + 3) DIV 4", "p25_disc"),
        pick("(n + 1) DIV 2", "p50_disc"),
        pick("(3 * n + 3) DIV 4", "p75_disc"),
    )


MG_K = 128  # counter budget per partition summary
MG_TOP = 25  # fused candidates returned


def _mg_skewed_keys(df: DataFrame) -> DataFrame:
    """The Misra-Gries demo stream: lineitem part references with a
    deterministic skew injection (every third order's reference folds
    onto 20 hot keys) so true heavy hitters exist to find — the same
    synthesize-the-regime device as the null/sort suites."""
    return df.select(
        F.when(F.col("l_orderkey") % 3 == 0, F.col("l_partkey") % 20)
        .otherwise(F.col("l_partkey"))
        .alias("k")
    )


def misra_gries_partials(df: DataFrame) -> DataFrame:
    """Per-partition Misra-Gries(MG_K) summaries over column ``k`` via
    ``mapInPandas`` — batch-vectorized: each Arrow batch pre-aggregates
    with value_counts (exact), then merges into the running summary
    with the mergeable-summaries reduction (Agarwal et al., PODS'12):
    sum counters, and past k keys subtract the (k+1)-th largest and
    drop non-positives. Errors telescope: the subtracted mass per
    partition is <= n_p/(k+1), so after the LOSSLESS global key-sum
    (no further reduction — at most 32*k candidate rows), every
    counter is a lower bound with total error <= n/(k+1)."""

    def summarize(batches):
        import pandas as pd  # noqa: PLC0415 — runs on executors

        summary: dict = {}
        for pdf in batches:
            for key, cnt in pdf["k"].value_counts().items():
                summary[key] = summary.get(key, 0) + int(cnt)
            if len(summary) > MG_K:
                cut = sorted(summary.values(), reverse=True)[MG_K]
                summary = {
                    key: c - cut for key, c in summary.items() if c - cut > 0
                }
        yield pd.DataFrame(
            {"k": list(summary.keys()), "lb": list(summary.values())}
        )

    return df.mapInPandas(summarize, schema="k long, lb long")


@query("sketch_misra_gries_heavy_hitters")  # summary content is
# partition-layout-dependent -> rows-only; guarantees pinned in tests
def sketch_misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-merge heavy hitters via Misra-Gries — the
    guarantee-bearing counter summary next to the estimate-bearing
    Count-Min (sketch_countmin_heavy_hitters): counters are LOWER
    bounds (never overestimates, where CMS never underestimates),
    total error <= n/(k+1), and any key with true share above
    1/(k+1) is guaranteed to survive. State is k counters per
    partition — no hashing, no randomness.

    Plan: mapInPandas builds one MG(128) summary per input split
    (map-side, batch-vectorized, no shuffle), the global merge is a
    key-sum over <= partitions*k tiny rows, and the result joins true
    counts back for the guaranteed_heavy flag demo. Rows-only by
    design: the surviving counter VALUES depend on the partition
    layout (any layout satisfies the same bounds — pinned in
    tests/test_r5_ops.py); the candidate top-{MG_TOP} is graded for
    stable shape, not hashable content.
    """
    keys = _mg_skewed_keys(load(spark, sf_dir, "lineitem"))
    n_total = keys.count()
    merged = (
        misra_gries_partials(keys)
        .groupBy("k")
        .agg(F.sum("lb").alias("lb_count"))
    )
    threshold = n_total // (MG_K + 1)
    return (
        merged.withColumn(
            "guaranteed_heavy", F.col("lb_count") > F.lit(threshold)
        )
        .orderBy(F.desc("lb_count"), F.asc("k"))
        .limit(MG_TOP)
        .select(F.col("k").alias("key"), "lb_count", "guaranteed_heavy")
    )


@query(
    "tpcds_q67_rollup_topk",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment AS segment,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
               GROUPING(c.c_mktsegment, strftime(date_trunc('month', o.o_orderdate), '%Y-%m')) AS gid,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY ROLLUP (c.c_mktsegment,
                         strftime(date_trunc('month', o.o_orderdate), '%Y-%m'))
        HAVING count(*) > 0
    )
    SELECT segment, month, gid, revenue_cents, rk
    FROM (
        SELECT *, rank() OVER (PARTITION BY segment
                               ORDER BY revenue_cents DESC,
                                        COALESCE(month, '') ASC) AS rk
        FROM g
    ) t WHERE rk <= 4
    """,
)
def tpcds_q67_rollup_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67's characteristic shape: rank WITHIN a rollup result —
    all grains of ROLLUP(segment, month) are ranked together inside
    each segment partition, so the segment-subtotal row (the grain
    where month is NULL) competes with — and tops — its own detail
    months, exactly the spec's quirk (Q67 ranks i_category partitions
    across every rollup grain of the 8-column hierarchy). gid
    disambiguates subtotal rows from genuine NULL keys, and the rank
    ties break on the month key, keeping the window a total order.

    Plan: one scan feeds the Expand (2 grains per row), one hash
    aggregate on the expanded grain, then a WindowGroupLimit-eligible
    rank over the tiny aggregated frame — the fact table never meets
    the window. Revenue is exact integer cents.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    month = F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            month.alias("month"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
        .rollup("segment", "month")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum("cents").alias("revenue_cents"),
        )
    )
    w = Window.partitionBy("segment").orderBy(
        F.desc("revenue_cents"), F.asc(F.coalesce("month", F.lit("")))
    )
    return (
        g.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 4)
        .select("segment", "month", "gid", "revenue_cents", "rk")
    )


@query(
    "agg_weighted_median_price",
    oracle="""
    WITH w AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), ranked AS (
        SELECT flag, price, qty,
               sum(qty) OVER (PARTITION BY flag ORDER BY price, qty
                              ROWS UNBOUNDED PRECEDING) AS cum,
               sum(qty) OVER (PARTITION BY flag) AS tot
        FROM w
    )
    SELECT flag,
           min(price) FILTER (WHERE 2 * cum >= tot) AS weighted_median_price,
           CAST(min(tot) AS BIGINT) AS total_weight
    FROM ranked GROUP BY flag
    """,
)
def agg_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED median — the 50th percentile of price where each
    row counts qty times (the robust 'typical unit price', immune to
    a few huge line items): the first price whose cumulative weight
    reaches half the total, picked as an ELEMENT OF THE DATA (the
    lower-median convention of impute_group_median_balance) — zero
    arithmetic on the measure, so it is exact on arbitrary doubles.
    The integer compare 2*cum >= tot avoids the half-total division.

    Plan: one cumulative window + one group total over the same
    (flag, price) sort — Catalyst reuses a single shuffle+sort per
    group key — then a min-FILTER aggregate. Weights are exact
    BIGINTs. The unweighted percentile family (percentile_disc,
    equi-depth histogram) rounds this family out.
    """
    w = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    win = (
        Window.partitionBy("flag")
        .orderBy("price", "qty")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = w.withColumn("cum", F.sum("qty").over(win)).withColumn(
        "tot", F.sum("qty").over(Window.partitionBy("flag"))
    )
    return ranked.groupBy("flag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("price"))).alias(
            "weighted_median_price"
        ),
        F.min("tot").cast("long").alias("total_weight"),
    )


@query(
    "concentration_gini_hhi_by_segment",
    oracle="""
    WITH cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT segment, cents,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY cents, o_custkey) AS i,
               count(*) OVER (PARTITION BY segment) AS n,
               CAST(sum(cents) OVER (PARTITION BY segment) AS BIGINT) AS t
        FROM cust
    ), shares AS (
        SELECT segment, cents, i, n, t,
               CAST((2 * 10000 * cents + t) // (2 * t) AS BIGINT) AS share_bp
        FROM ranked
    )
    SELECT segment,
           CAST(min(n) AS BIGINT) AS n_customers,
           min(t) AS total_cents,
           CAST((2 * 10000 * sum((2 * i - n - 1) * CAST(cents AS HUGEINT))
                 + CAST(min(n) AS HUGEINT) * min(t))
                // (2 * CAST(min(n) AS HUGEINT) * min(t)) AS BIGINT) AS gini_bp,
           CAST((2 * CAST(sum(share_bp * share_bp) AS BIGINT) + 10000)
                // (2 * 10000) AS BIGINT) AS hhi_bp
    FROM shares GROUP BY segment
    """,
)
def concentration_gini_hhi_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration metrics per market segment: the GINI
    coefficient (inequality of customer spend) and the
    HERFINDAHL-HIRSCHMAN index (share concentration) — the two
    standard answers to 'is this segment whale-dominated?', feeding
    pricing and churn-risk analysis. Both land exact-integer: Gini
    through the sorted-prefix identity G = Σ(2i−n−1)·x_(i) / (n·Σx)
    (one row_number window over the per-customer rollup — never the
    O(n²) pairwise-difference definition), HHI over half-up
    basis-point shares (Σ share_bp², rescaled — a DEFINED integer
    spec, so no rational-share float ever materializes).

    Plan: facts collapse to (segment, customer) grain first; the
    windows and the final aggregate share one segment partitioning.
    Magnitudes: 2·10^4·Σ(2i−n−1)·cents reaches ~9·10^18 at sf0.1 —
    int64 OVERFLOWED there (caught by the session's sf0.1 sweep), so
    the Gini accumulates in DECIMAL(38,0)/HUGEINT and only the final
    basis-point quotient returns to BIGINT.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("segment")
    ranked = (
        cust.withColumn(
            "i",
            F.row_number().over(
                Window.partitionBy("segment").orderBy("cents", "o_custkey")
            ),
        )
        .withColumn("n", F.count("*").over(w))
        .withColumn("t", F.sum("cents").over(w).cast("long"))
        .withColumn(
            "share_bp",
            F.expr("CAST((2 * 10000 * cents + t) DIV (2 * t) AS BIGINT)"),
        )
    )
    return ranked.groupBy("segment").agg(
        F.min("n").cast("long").alias("n_customers"),
        F.min("t").alias("total_cents"),
        F.expr(
            "CAST((2 * 10000 * sum((2 * i - n - 1)"
            " * CAST(cents AS DECIMAL(38,0)))"
            " + CAST(min(n) AS DECIMAL(38,0)) * min(t))"
            " DIV (2 * CAST(min(n) AS DECIMAL(38,0)) * min(t)) AS BIGINT)"
        ).alias("gini_bp"),
        F.expr(
            "CAST((2 * CAST(sum(share_bp * share_bp) AS BIGINT) + 10000)"
            " DIV (2 * 10000) AS BIGINT)"
        ).alias("hhi_bp"),
    )


BENFORD_BP = {1: 3010, 2: 1761, 3: 1249, 4: 969, 5: 792, 6: 669, 7: 580, 8: 512, 9: 458}
# round(log10(1 + 1/d) * 1e4) — fixed integer constants, no runtime log


@query(
    "benford_first_digit_audit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                                  AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER)
                   AS digit
        FROM orders
    ), expected(digit, expected_bp) AS (
        VALUES {", ".join(f"({d}, {bp})" for d, bp in BENFORD_BP.items())}
    ), obs AS (
        SELECT digit, count(*) AS n,
               CAST(sum(count(*)) OVER () AS BIGINT) AS total
        FROM d GROUP BY 1
    )
    SELECT e.digit, COALESCE(o.n, 0) AS n,
           CAST(COALESCE((2 * 10000 * o.n + o.total) // (2 * o.total), 0)
                AS BIGINT) AS observed_bp,
           e.expected_bp,
           abs(CAST(COALESCE((2 * 10000 * o.n + o.total) // (2 * o.total), 0)
                    AS BIGINT) - e.expected_bp) AS deviation_bp
    FROM expected e LEFT JOIN obs o ON e.digit = o.digit
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the forensic-accounting
    screen for fabricated or constrained numeric columns: observed
    leading-digit frequencies of the money column against Benford's
    expected distribution, per-digit deviation in basis points. The
    expected probabilities are FIXED integer constants (no runtime
    log), the first digit comes from the exact-cent integer's decimal
    string, and rates are half-up bp — all integer, one scan. On this
    near-uniform synthetic ledger the audit correctly REJECTS
    Benford (large deviations) — that asymmetry is the detector
    doing its job; a real organic ledger scores near zero.

    The digit grid is a 9-row inline VALUES dimension left-joined so
    never-occurring digits still report (the dashboard contract).
    """
    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        exact_cents(F.col("o_totalprice"))
        .cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        o.select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
        .withColumn("total", F.sum("n").over(Window.partitionBy()).cast("long"))
    )
    expected = spark.createDataFrame(
        [(d, bp) for d, bp in BENFORD_BP.items()], "digit INT, expected_bp BIGINT"
    )
    joined = expected.join(obs, "digit", "left")
    obs_bp = F.expr(
        "CAST(COALESCE((2 * 10000 * n + total) DIV (2 * total), 0) AS BIGINT)"
    )
    return joined.select(
        "digit",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        obs_bp.alias("observed_bp"),
        "expected_bp",
        F.abs(obs_bp - F.col("expected_bp")).alias("deviation_bp"),
    )


@query(
    "agg_grouped_pandas_udf_mad",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM customer
    ), r AS (
        SELECT c_mktsegment, cents,
               row_number() OVER (PARTITION BY c_mktsegment ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM c
    ), m AS (
        SELECT c_mktsegment, cents AS med FROM r WHERE rn = (n + 1) // 2
    ), dev AS (
        SELECT c.c_mktsegment, abs(c.cents - m.med) AS d, m.med
        FROM c JOIN m USING (c_mktsegment)
    ), rd AS (
        SELECT c_mktsegment, med, d,
               row_number() OVER (PARTITION BY c_mktsegment ORDER BY d) AS rn,
               count(*) OVER (PARTITION BY c_mktsegment) AS n
        FROM dev
    )
    SELECT rd.c_mktsegment AS mktsegment,
           rd.med AS median_cents,
           rd.d AS mad_cents,
           rd.n AS n_customers
    FROM rd WHERE rn = (n + 1) // 2
    """,
)
def agg_grouped_pandas_udf_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the one Arrow-UDF flavor the surface
    was missing (SCALAR: enrich/urljoin; GROUPED_MAP: MMR/Misra-Gries;
    COGROUPED_MAP: reconcile; UDTF: chunker): a custom aggregate that
    Catalyst can't express as partial-mergeable built-ins — the
    median absolute deviation, the robust dispersion measure (two
    nested order statistics). Each group's values stream to Python as
    ONE Arrow batch; the kernel is pure int64 order-statistic math
    (lower-median at index (n-1)//2 of exact cents), so the result is
    engine-deterministic and the quadratic-free SQL twin (two
    row_number passes) hash-checks it.

    Scale honesty: a GROUPED_AGG UDF materializes the whole group in
    memory — right for bounded groups (segments, tenants, devices),
    wrong for unbounded ones; the distributed exact-median device for
    corpus-scale groups is agg_weighted_median_price's two-phase
    count-partition pass. Both live in the inventory deliberately.
    """
    import pandas as pd

    # NB: this module runs under `from __future__ import annotations`,
    # which stringifies inline hints — pandas_udf introspects REAL
    # types, so the GROUPED_AGG signatures are attached explicitly.
    def _lower_median(v):
        s = v.sort_values().reset_index(drop=True)
        return int(s.iloc[(len(s) - 1) // 2])

    def _mad(v):
        s = v.sort_values().reset_index(drop=True)
        med = int(s.iloc[(len(s) - 1) // 2])
        d = (v - med).abs().sort_values().reset_index(drop=True)
        return int(d.iloc[(len(d) - 1) // 2])

    def _n(v):
        return len(v)

    _lower_median.__annotations__ = {"v": pd.Series, "return": int}
    _mad.__annotations__ = {"v": pd.Series, "return": int}
    _n.__annotations__ = {"v": pd.Series, "return": int}
    lower_median = F.pandas_udf(_lower_median, "long")
    mad = F.pandas_udf(_mad, "long")
    n_rows = F.pandas_udf(_n, "long")

    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    return (
        load(spark, sf_dir, "customer")
        .select(F.col("c_mktsegment").alias("mktsegment"), cents.alias("cents"))
        .groupBy("mktsegment")
        .agg(
            lower_median(F.col("cents")).alias("median_cents"),
            mad(F.col("cents")).alias("mad_cents"),
            # GROUPED_AGG UDFs can't mix with JVM aggregates in one
            # agg() — the row count rides the same Arrow batch instead
            n_rows(F.col("cents")).alias("n_customers"),
        )
    )


def _event_value_deviations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite event values in integer cents, shifted by their event
    type's floor-mean: (event_type, d), so every power sum of d is an
    exact integer."""
    c = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            "event_type",
            exact_cents(F.col("value")).alias("cents"),
        )
    )
    return c.select(
        "event_type",
        (
            F.col("cents")
            - F.expr(
                "sum(cents) OVER (PARTITION BY event_type)"
                " DIV count(*) OVER (PARTITION BY event_type)"
            )
        ).alias("d"),
    )


@query(
    "agg_skew_kurtosis_moments",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    shifted AS (
        SELECT event_type, cents,
               cents - (sum(cents) OVER (PARTITION BY event_type)
                        // count(*) OVER (PARTITION BY event_type)) AS d
        FROM c
    ),
    sums AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(d) AS BIGINT) AS s1,
               CAST(sum(d * d) AS BIGINT) AS s2,
               CAST(sum(CAST(d AS DECIMAL(38,0)) * d * d) AS DECIMAL(38,0)) AS s3,
               CAST(sum(CAST(d AS DECIMAL(38,0)) * d * d * d) AS DECIMAL(38,0)) AS s4
        FROM shifted GROUP BY 1
    ),
    mom AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS r2,
               {sql_d53("s3")} / n AS r3,
               {sql_d53("s4")} / n AS r4
        FROM sums
    ),
    cm AS (
        SELECT event_type, n, m1,
               r2 - m1 * m1 AS m2,
               r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
               r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
                  - 3 * m1 * m1 * m1 * m1 AS m4
        FROM mom
    )
    SELECT event_type, n,
           round(m2 / 10000, 6) AS variance_pop,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS kurtosis_excess
    FROM cm
    """,
)
def agg_skew_kurtosis_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of event values per
    event type — the higher-moment distribution fingerprints behind
    anomaly thresholds and normality screens, computed distributed
    and cross-engine bit-stable.

    Device: central moments are shift-invariant, so values first
    center on the per-group INTEGER floor-mean (one window over the
    group grain — an exact BIGINT division, no float). The centered
    integer power sums Σd..Σd⁴ then aggregate exactly (d³/d⁴ ride
    DECIMAL(38,0) — bounded by n·range⁴, fine at any SF once shifted,
    where raw-moment cross-multiplication n³Σx⁴ overflows even 38
    digits at sf0.1). From those exact sums the statistic is ONE
    fixed expression tree of IEEE correctly-rounded ops (+,-,*,/ and
    sqrt — never libm pow, which is not correctly rounded): identical
    inputs → bit-identical doubles in both engines; the 6dp round is
    belt-and-braces. Skew/kurtosis use the population (biased) form
    m3/m2^1.5 and m4/m2²−3.

    Plan: window + groupBy share the (event_type) partitioning — one
    exchange; everything else is map-side arithmetic.
    """
    shifted = _event_value_deviations(spark, sf_dir)
    sums = shifted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").cast("long").alias("s1"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("s2"),
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(
            F.col("d").cast("decimal(38,0)") * F.col("d") * F.col("d") * F.col("d")
        )
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    r2 = F.col("s2").cast("double") / F.col("n")
    # r13: s3/s4 (centered cents^3/^4 sums, ~2e18/2e23) are past 2^53
    # - d53 split, not a bare wide-decimal cast.
    r3 = F.expr(d53("s3")) / F.col("n")
    r4 = F.expr(d53("s4")) / F.col("n")
    mom = sums.select("event_type", "n", m1.alias("m1"), r2.alias("r2"), r3.alias("r3"), r4.alias("r4"))
    m2c = F.col("r2") - F.col("m1") * F.col("m1")
    m3c = (
        F.col("r3")
        - F.lit(3) * F.col("m1") * F.col("r2")
        + F.lit(2) * F.col("m1") * F.col("m1") * F.col("m1")
    )
    m4c = (
        F.col("r4")
        - F.lit(4) * F.col("m1") * F.col("r3")
        + F.lit(6) * F.col("m1") * F.col("m1") * F.col("r2")
        - F.lit(3) * F.col("m1") * F.col("m1") * F.col("m1") * F.col("m1")
    )
    cm = mom.select("event_type", "n", m2c.alias("m2"), m3c.alias("m3"), m4c.alias("m4"))
    return cm.select(
        "event_type",
        "n",
        F.round(F.col("m2") / 10000, 6).alias("variance_pop"),
        F.round(
            F.col("m3")
            / F.nullif(F.col("m2") * F.sqrt(F.col("m2")), F.lit(0.0)),
            6,
        ).alias("skewness"),
        F.round(
            F.col("m4") / F.nullif(F.col("m2") * F.col("m2"), F.lit(0.0)) - 3,
            6,
        ).alias(
            "kurtosis_excess"
        ),
    )


@query(
    "dq_out_of_order_audit",
    oracle="""
    WITH skewed AS (
        SELECT user_id, event_id,
               CASE WHEN event_id % 13 = 5
                    THEN ts - INTERVAL 90 MINUTE ELSE ts END AS ts
        FROM events
    ),
    seq AS (
        SELECT user_id, event_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        FROM skewed
    )
    SELECT user_id,
           count(*) - 1 AS n_steps,
           CAST(count(*) FILTER (WHERE ts < prev_ts) AS BIGINT)
               AS n_inversions,
           CAST(coalesce(max(CASE WHEN ts < prev_ts
                             THEN epoch_us(prev_ts) - epoch_us(ts) END), 0)
                AS BIGINT) AS max_backstep_us
    FROM seq GROUP BY 1
    HAVING count(*) FILTER (WHERE ts < prev_ts) > 0
    """,
)
def dq_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order ingestion audit: per user, how often does event
    time run BACKWARD along the ingestion sequence (event_id = arrival
    order), and by how much at worst — the stream-health metric that
    sizes streaming watermarks (max_backstep is the empirical
    lateness bound a watermark must cover) and flags clock-skewed
    producers. Only offending users are reported. The source data
    arrives perfectly ordered, so a deterministic 1-in-13 "lagging
    producer" (90-minute clock skew, in-query — the entity_link
    dirtying pattern) supplies the out-of-order arrivals the audit
    is graded on.

    One lag window and the audit aggregate share the (user_id)
    partitioning — single exchange; the lateness maximum rides exact
    integer microseconds.
    """
    skewed = load(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(
            F.col("event_id") % 13 == 5, F.col("ts") - F.expr("INTERVAL 90 MINUTES")
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
    )
    seq = skewed.select(
        "user_id",
        "event_id",
        "ts",
        F.lag("ts").over(Window.partitionBy("user_id").orderBy("event_id")).alias(
            "prev_ts"
        ),
    )
    inv = F.col("ts") < F.col("prev_ts")
    return (
        seq.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) - 1).alias("n_steps"),
            F.count_if(inv).cast("bigint").alias("n_inversions"),
            F.coalesce(
                F.max(
                    F.when(inv, F.unix_micros("prev_ts") - F.unix_micros("ts"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("max_backstep_us"),
        )
        .filter(F.col("n_inversions") > 0)
    )


@query(
    "variance_price_volume_mix",
    oracle="""
    WITH grain AS (
        SELECT l.l_partkey AS part,
               CAST(date_part('year', o.o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE date_part('year', o.o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ),
    two AS (
        SELECT part,
               coalesce(max(CASE WHEN yr = 1996 THEN qty END), 0) AS q0,
               coalesce(max(CASE WHEN yr = 1996 THEN rev_cents END), 0) AS r0,
               coalesce(max(CASE WHEN yr = 1997 THEN qty END), 0) AS q1,
               coalesce(max(CASE WHEN yr = 1997 THEN rev_cents END), 0) AS r1
        FROM grain GROUP BY 1
    ),
    fx AS (
        SELECT part, q0, q1, r0, r1,
               CASE WHEN q0 > 0 AND q1 > 0
                    THEN (r1 * q0 - r0 * q1) * 1 ELSE 0 END AS price_num,
               CASE WHEN q0 > 0 THEN r0 * (q1 - q0) ELSE 0 END AS vol_num,
               CASE WHEN q0 = 0 THEN r1 WHEN q1 = 0 THEN -r0 ELSE 0 END
                   AS mix_cents_q0
        FROM two
    )
    SELECT
        CAST(sum(r1 - r0) AS BIGINT) AS delta_cents,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0
                 THEN (2 * price_num + q0) // (2 * q0) ELSE 0 END) AS BIGINT)
            AS price_effect_cents,
        CAST(sum(CASE WHEN q0 > 0 AND q1 > 0
                 THEN (2 * vol_num + q0) // (2 * q0) ELSE 0 END) AS BIGINT)
            AS volume_effect_cents,
        CAST(sum(mix_cents_q0) AS BIGINT) AS new_lost_effect_cents,
        count(*) AS n_parts
    FROM fx
    """,
)
def variance_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume/mix variance bridge between two years (1996→1997)
    at the part grain — the FP&A waterfall that explains WHY revenue
    moved: for parts sold in both years, the change splits into a
    price effect ((p1−p0)·q1, with p = revenue/qty the realized unit
    price) and a volume effect (p0·(q1−q0)); parts sold in only one
    year land in the new/lost bucket whole. The three effects plus
    new/lost sum to the total delta up to per-part half-up rounding
    (the report's standard reconciliation footnote).

    Exactness: realized prices are rationals r/q — every effect
    cross-multiplies to integers over cents x quantity ((r1·q0 −
    r0·q1)/q0 for price, r0·(q1−q0)/q0 for volume), each rounded
    half-up at the part grain before summing, so both engines sum
    IDENTICAL integers. (Negative numerators are safe WITHOUT the
    davg mirroring device: Spark's DIV and DuckDB's // both truncate
    toward zero — verified — so halves round half-away only for
    positives, identically in both engines.) One fact rollup (year-filtered at the scan),
    one part-grain pivot via conditional max, map-side arithmetic.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", F.year("o_orderdate").cast("bigint").alias("yr"))
        .filter(F.col("yr").isin(1996, 1997))
    )
    grain = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_partkey").alias("part"), "yr")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
            F.sum(exact_cents(F.col("l_extendedprice")))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )
    two = grain.groupBy("part").agg(
        F.coalesce(F.max(F.when(F.col("yr") == 1996, F.col("qty"))), F.lit(0)).alias("q0"),
        F.coalesce(F.max(F.when(F.col("yr") == 1996, F.col("rev_cents"))), F.lit(0)).alias("r0"),
        F.coalesce(F.max(F.when(F.col("yr") == 1997, F.col("qty"))), F.lit(0)).alias("q1"),
        F.coalesce(F.max(F.when(F.col("yr") == 1997, F.col("rev_cents"))), F.lit(0)).alias("r1"),
    )
    fx = two.select(
        "part",
        "q0",
        "q1",
        "r0",
        "r1",
        F.when(
            (F.col("q0") > 0) & (F.col("q1") > 0),
            F.col("r1") * F.col("q0") - F.col("r0") * F.col("q1"),
        )
        .otherwise(F.lit(0))
        .alias("price_num"),
        F.when(F.col("q0") > 0, F.col("r0") * (F.col("q1") - F.col("q0")))
        .otherwise(F.lit(0))
        .alias("vol_num"),
        F.when(F.col("q0") == 0, F.col("r1"))
        .when(F.col("q1") == 0, -F.col("r0"))
        .otherwise(F.lit(0))
        .alias("mix_cents_q0"),
    )
    return fx.agg(
        F.sum(F.col("r1") - F.col("r0")).cast("bigint").alias("delta_cents"),
        F.sum(
            F.when(
                (F.col("q0") > 0) & (F.col("q1") > 0),
                F.expr("(2 * price_num + q0) DIV (2 * q0)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("price_effect_cents"),
        F.sum(
            F.when(
                (F.col("q0") > 0) & (F.col("q1") > 0),
                F.expr("(2 * vol_num + q0) DIV (2 * q0)"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("volume_effect_cents"),
        F.sum("mix_cents_q0").cast("bigint").alias("new_lost_effect_cents"),
        F.count(F.lit(1)).alias("n_parts"),
    )


@query(
    "inventory_abc_xyz_matrix",
    oracle="""
    WITH win AS (
        SELECT l.l_partkey AS part,
               strftime(date_trunc('month', o.o_orderdate), '%Y-%m') AS month,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    per_part AS (
        SELECT part,
               sum(q) AS s, sum(q * q) AS s2, sum(cents) AS rev
        FROM win GROUP BY 1
    ),
    abc AS (
        SELECT part, s, s2, rev,
               sum(rev) OVER (ORDER BY rev DESC, part ASC) AS cum_rev,
               sum(rev) OVER () AS tot_rev
        FROM per_part
    ),
    classed AS (
        SELECT part,
               CASE WHEN 100 * cum_rev <= 80 * tot_rev THEN 'A'
                    WHEN 100 * cum_rev <= 95 * tot_rev THEN 'B'
                    ELSE 'C' END AS abc_class,
               CASE WHEN s = 0 THEN 'Z'
                    WHEN 4 * (24 * s2 - s * s) <= s * s THEN 'X'
                    WHEN (24 * s2 - s * s) <= s * s THEN 'Y'
                    ELSE 'Z' END AS xyz_class,
               rev
        FROM abc
    )
    SELECT abc_class, xyz_class, count(*) AS n_parts,
           CAST(sum(rev) AS BIGINT) AS rev_cents
    FROM classed GROUP BY 1, 2
    """,
)
def inventory_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix over a fixed 24-month window: parts
    classed by revenue concentration (A = first 80% of cumulative
    revenue, B = to 95%, C = tail — the pareto_abc device) crossed
    with demand VARIABILITY (X: CV <= 0.5 steady, Y: CV <= 1.0, Z:
    erratic) — the planning matrix that decides which SKUs get safety
    stock vs make-to-order.

    The CV thresholds never compute a CV: with a FIXED n = 24-month
    window (zero-demand months contribute nothing to the sums, so
    only the constant n matters), CV² = (nΣq²−S²)/S² and the class
    tests cross-multiply to pure integer comparisons — 4(nΣq²−S²) ≤ S²
    for X, (nΣq²−S²) ≤ S² for Y. No float, no sqrt, bit-stable.

    Plan: one fact rollup to (part, month), one part-grain reduce;
    the ABC ranking runs on the PART grain (two windows, one sort);
    output is the 3x3 matrix.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate")
    win = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"),
            F.sum(exact_cents(F.col("l_extendedprice")))
            .cast("bigint")
            .alias("cents"),
        )
    )
    per_part = win.groupBy("part").agg(
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.sum("cents").alias("rev"),
    )
    wrank = Window.orderBy(F.desc("rev"), F.asc("part")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    abc = per_part.select(
        "part",
        "s",
        "s2",
        "rev",
        F.sum("rev").over(wrank).alias("cum_rev"),
        F.sum("rev").over(wall).alias("tot_rev"),
    )
    disp = F.lit(24) * F.col("s2") - F.col("s") * F.col("s")
    classed = abc.select(
        "part",
        F.when(F.lit(100) * F.col("cum_rev") <= F.lit(80) * F.col("tot_rev"), "A")
        .when(F.lit(100) * F.col("cum_rev") <= F.lit(95) * F.col("tot_rev"), "B")
        .otherwise("C")
        .alias("abc_class"),
        F.when(F.col("s") == 0, "Z")
        .when(F.lit(4) * disp <= F.col("s") * F.col("s"), "X")
        .when(disp <= F.col("s") * F.col("s"), "Y")
        .otherwise("Z")
        .alias("xyz_class"),
        "rev",
    )
    return classed.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("rev").cast("bigint").alias("rev_cents"),
    )


@query(
    "rollup_rewrite_equivalence",
    oracle=f"""
    SELECT
        c.c_mktsegment AS mktsegment,
        strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS ship_month,
        ((CAST(CAST((CAST(CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                            AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS revenue,
        count(*) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2
    """,
)
def rollup_rewrite_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup query rewrite: the engine first maintains a
    PARTIAL-AGGREGATE rollup at a FINER grain than the question
    (segment x month x orderpriority, carrying decimal revenue
    partials + counts), then answers the flagship segment-x-month
    question FROM THE ROLLUP by re-aggregating partials — never
    touching the fact table. The oracle computes the same answer
    from raw facts; hash equality is the rewrite-correctness proof
    every materialized-view/cube system rests on (valid because sum
    and count are decomposable aggregates and the rollup grain
    functionally determines the query grain).

    At 100 TB: the rollup is the thing a nightly job maintains
    incrementally (incremental_agg_maintenance is the maintenance
    half; this is the ANSWERING half) — the flagship dashboard query
    drops from a fact scan to a rollup-sized aggregation, orders of
    magnitude less IO. Decimal partials keep the two-step sum exactly
    equal to the one-step sum (associativity of exact decimal).
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # maintenance side: the finer-grain rollup with DECIMAL partials
    rollup = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_mktsegment").alias("mktsegment"),
            F.date_format(F.date_trunc("month", "l_shipdate"), "yyyy-MM").alias(
                "ship_month"
            ),
            "o_orderpriority",
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(25,6)"
                )
            ).alias("rev_partial"),
            F.count(F.lit(1)).alias("n_partial"),
        )
    )
    # answering side: the user's coarser question, FROM the rollup
    return rollup.groupBy("mktsegment", "ship_month").agg(
        ddbl(F.round(F.sum("rev_partial"), 2), 2).alias("revenue"),
        F.sum("n_partial").alias("n_items"),
    )


@query(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
           CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
               AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(count(*) FILTER (WHERE p.p_partkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem->supplier', count(*),
           CAST(count(*) FILTER (WHERE s.s_suppkey IS NULL) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', count(*),
           CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'supplier->nation', count(*),
           CAST(count(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    UNION ALL
    SELECT 'nation->region', count(*),
           CAST(count(*) FILTER (WHERE r.r_regionkey IS NULL) AS BIGINT)
    FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: for
    every foreign-key edge, total rows and orphan count (child rows
    whose parent is missing) — the load-gate every warehouse runs
    after ingest, since a broken FK silently DROPS rows from inner
    joins downstream (revenue vanishing from a dashboard because 2%
    of lineitems lost their order parent is the classic incident).

    Plan: each edge is a left join with the dimension side broadcast
    where small (nation/region/customer/supplier/part); the orphan
    predicate aggregates map-side. One pass per edge — at 100 TB the
    three lineitem edges share the same fact scan via Spark's scan
    reuse when executed together.
    """

    def edge(child, ckey, parent, pkey, label):
        c = load(spark, sf_dir, child).select(F.col(ckey))
        p = load(spark, sf_dir, parent).select(F.col(pkey))
        return (
            c.join(F.broadcast(p), F.col(ckey) == F.col(pkey), "left")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col(pkey).isNull()).cast("bigint").alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    edges = [
        edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem->orders"),
        edge("lineitem", "l_partkey", "part", "p_partkey", "lineitem->part"),
        edge("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem->supplier"),
        edge("orders", "o_custkey", "customer", "c_custkey", "orders->customer"),
        edge("customer", "c_nationkey", "nation", "n_nationkey", "customer->nation"),
        edge("supplier", "s_nationkey", "nation", "n_nationkey", "supplier->nation"),
        edge("nation", "n_regionkey", "region", "r_regionkey", "nation->region"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


@query(
    "finance_ar_aging_buckets",
    oracle="""
    WITH open_orders AS (
        SELECT o.o_custkey, o.o_orderdate,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               date_diff('day', o.o_orderdate, TIMESTAMP '1998-01-01') AS age
        FROM orders o
        WHERE o.o_orderstatus = 'O'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ),
    bucketed AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN age <= 30 THEN '0-30'
                    WHEN age <= 60 THEN '31-60'
                    WHEN age <= 90 THEN '61-90'
                    ELSE '90+' END AS bucket,
               cents
        FROM open_orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, bucket,
           count(*) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS outstanding_cents
    FROM bucketed GROUP BY 1, 2
    """,
)
def finance_ar_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accounts-receivable aging: open orders ('O' status = not yet
    fulfilled/paid) bucketed by days outstanding at a fixed as-of
    date (1998-01-01), totalled per customer segment — the collections
    report every finance team closes the month with, and the input to
    bad-debt provisioning (the 90+ bucket). Aging is exact integer
    day arithmetic against the literal as-of date; balances are exact
    cents.

    Plan: the status+date filter pushes to the scan (only open
    orders are read), the segment dimension broadcasts, and the
    4x5-bucket rollup partial-aggregates map-side — at 100 TB this
    reads a fraction of the fact table and shuffles 20 groups.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderstatus") == "O")
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "o_custkey",
            exact_cents(F.col("o_totalprice")).alias("cents"),
            F.datediff(F.lit("1998-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
                "age"
            ),
        )
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    bucket = (
        F.when(F.col("age") <= 30, "0-30")
        .when(F.col("age") <= 60, "31-60")
        .when(F.col("age") <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), bucket.alias("bucket"), "cents")
        .groupBy("segment", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").cast("bigint").alias("outstanding_cents"),
        )
    )


@query(
    "dq_primary_key_uniqueness",
    oracle="""
    SELECT 'orders' AS tbl, count(*) AS n_rows,
           count(DISTINCT o_orderkey) AS n_keys,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer', count(*), count(DISTINCT c_custkey),
           CAST(count(*) - count(DISTINCT c_custkey) AS BIGINT)
    FROM customer
    UNION ALL
    SELECT 'part', count(*), count(DISTINCT p_partkey),
           CAST(count(*) - count(DISTINCT p_partkey) AS BIGINT)
    FROM part
    UNION ALL
    SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
           CAST(count(*) - count(DISTINCT s_suppkey) AS BIGINT)
    FROM supplier
    UNION ALL
    SELECT 'lineitem', count(*),
           count(DISTINCT (l_orderkey, l_linenumber, l_partkey, l_suppkey)),
           CAST(count(*) - count(DISTINCT
                (l_orderkey, l_linenumber, l_partkey, l_suppkey)) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events', count(*), count(DISTINCT event_id),
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'documents', count(*), count(DISTINCT doc_id),
           CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
    FROM documents
    """,
)
def dq_primary_key_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across every table: row count vs
    distinct key count per declared key (composite for lineitem) —
    the other half of the load gate beside dq_referential_integrity.
    A duplicated key silently DOUBLES rows through every downstream
    join (the fan-out bug), so this runs before any fact table is
    published.

    Each check is one exact count-distinct aggregation (Spark plans
    the two counts in a single pass via partial aggregation with
    distinct expansion); the union of 7 one-row results is trivial.
    """

    def check(tbl: str, *keys: str):
        d = load(spark, sf_dir, tbl)
        kd = F.countDistinct(*[F.col(k) for k in keys])
        return d.agg(
            F.count(F.lit(1)).alias("n_rows"),
            kd.alias("n_keys"),
            (F.count(F.lit(1)) - kd).cast("bigint").alias("n_dup_rows"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "n_keys", "n_dup_rows")

    checks = [
        check("orders", "o_orderkey"),
        check("customer", "c_custkey"),
        check("part", "p_partkey"),
        check("supplier", "s_suppkey"),
        check("lineitem", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
        check("events", "event_id"),
        check("documents", "doc_id"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@query(
    "privacy_deterministic_tokenization",
    oracle="""
    WITH tok_orders AS (
        SELECT substring(md5('tok:' || CAST(o_custkey AS VARCHAR)), 1, 16)
                   AS cust_token,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    tok_customer AS (
        SELECT substring(md5('tok:' || CAST(c_custkey AS VARCHAR)), 1, 16)
                   AS cust_token,
               c_mktsegment
        FROM customer
    )
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           count(DISTINCT o.cust_token) AS n_tokens,
           CAST(sum(o.cents) AS BIGINT) AS rev_cents
    FROM tok_orders o JOIN tok_customer c ON o.cust_token = c.cust_token
    GROUP BY 1
    """,
)
def privacy_deterministic_tokenization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (consistent) tokenization: the direct identifier
    c_custkey is replaced EVERYWHERE by a keyed-hash token before
    analytics — and because the same key tokenizes to the same token
    in every table, referential integrity survives: the graded query
    joins orders to customers ON THE TOKENS and reproduces exactly
    the per-segment order counts, distinct customers, and revenue the
    raw keys would give. This is the de-identification pattern
    (tokenize-at-ingest, analyze on tokens, keep the salt in a vault)
    that complements PII redaction (free text) and k-anonymity
    (quasi-identifiers): direct identifiers leave the data without
    breaking a single join.

    In production the salt ('tok:' here, a literal so the oracle can
    replicate) is a secret from a KMS; rotation = re-tokenization.
    Map-side hash on both sides, then the ordinary broadcast join —
    tokenization adds ZERO shuffles.
    """
    tok = lambda c: F.substring(  # noqa: E731 — tiny local shorthand
        F.md5(F.concat(F.lit("tok:"), c.cast("string"))), 1, 16
    )
    o = load(spark, sf_dir, "orders").select(
        tok(F.col("o_custkey")).alias("cust_token"),
        exact_cents(F.col("o_totalprice")).alias("cents"),
    )
    c = load(spark, sf_dir, "customer").select(
        tok(F.col("c_custkey")).alias("cust_token"), "c_mktsegment"
    )
    return (
        o.join(F.broadcast(c), "cust_token")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("cust_token").alias("n_tokens"),
            F.sum("cents").cast("bigint").alias("rev_cents"),
        )
    )


# 0.7213/(1+1.079/256); the CAST keeps DuckDB from parsing the literal
# as DECIMAL(18) (which overflows in the m^2 product) — Spark side uses
# the same double via float().
HLL_ALPHA_256 = "CAST(0.7182725932495458 AS DOUBLE)"


def _hll_sql(reg_src: str, truth_src: str, label: str) -> str:
    """DuckDB fragment: HLL estimate from a register table
    ``reg_src(reg, mr)`` and a truth table ``truth_src(n_true)``."""
    return f"""
        SELECT '{label}' AS event_type, t.n_true,
               round(CASE WHEN {HLL_ALPHA_256} * 65536
                               * CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
                               / s.s49 <= 640
                          AND s.zeros > 0
                     THEN 256 * ln(256.0 / s.zeros)
                     ELSE {HLL_ALPHA_256} * 65536
                          * CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE) / s.s49
                     END, 2) AS est_distinct,
               s.zeros
        FROM (
            SELECT CAST(CAST(sum(CAST(1 AS BIGINT) << (49 - mr))
                             + (256 - count(*)) * (CAST(1 AS BIGINT) << 49)
                             AS BIGINT) AS DOUBLE) AS s49,
                   256 - count(*) AS zeros
            FROM {reg_src}
        ) s CROSS JOIN {truth_src} t
    """


@query(
    "sketch_hll_deterministic",
    oracle=f"""
    WITH keyed AS (
        SELECT DISTINCT event_type,
               CAST(user_id AS VARCHAR) || '|' || strftime(ts, '%Y-%m-%d') AS k
        FROM events WHERE ts IS NOT NULL
    ),
    hashed AS (
        SELECT event_type, md5('hll|' || k) AS h FROM keyed
    ),
    slotted AS (
        SELECT event_type,
               {sql_hex_to_long("substr(h, 1, 2)", 2)} AS reg,
               {sql_hex_to_long("substr(h, 3, 12)", 12)} AS w
        FROM hashed
    ),
    ranked AS (
        SELECT event_type, reg,
               CASE WHEN w = 0 THEN 49
                    ELSE 49 - length(bin(w)) END AS m
        FROM slotted
    ),
    regs AS (
        SELECT event_type, reg, max(m) AS mr FROM ranked GROUP BY 1, 2
    ),
    truth AS (
        SELECT event_type, count(*) AS n_true FROM hashed GROUP BY 1
    ),
    g_regs AS (
        SELECT reg, max(mr) AS mr FROM regs GROUP BY 1
    ),
    g_truth AS (
        SELECT count(DISTINCT h) AS n_true FROM hashed
    ),
    per_type AS (
        SELECT r.event_type, t.n_true,
               round(CASE WHEN {HLL_ALPHA_256} * 65536
                               * CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE)
                               / r.s49 <= 640 AND r.zeros > 0
                     THEN 256 * ln(256.0 / r.zeros)
                     ELSE {HLL_ALPHA_256} * 65536
                          * CAST(CAST(1 AS BIGINT) << 49 AS DOUBLE) / r.s49
                     END, 2) AS est_distinct,
               r.zeros
        FROM (
            SELECT event_type,
                   CAST(CAST(sum(CAST(1 AS BIGINT) << (49 - mr))
                             + (256 - count(*)) * (CAST(1 AS BIGINT) << 49)
                             AS BIGINT) AS DOUBLE) AS s49,
                   256 - count(*) AS zeros
            FROM regs GROUP BY 1
        ) r JOIN truth t USING (event_type)
    ),
    g AS ({_hll_sql("g_regs", "g_truth", "__all__")})
    SELECT event_type, CAST(n_true AS BIGINT) AS n_true, est_distinct,
           CAST(zeros AS BIGINT) AS zeros,
           CAST(round(abs(est_distinct - n_true) / n_true * 10000, 0)
                AS BIGINT) AS err_bp
    FROM (SELECT * FROM per_type UNION ALL SELECT * FROM g) u
    """,
)
def sketch_hll_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog from scratch, fully deterministic and ORACLE-CHECKED
    — unlike sketch_hll_mergeable (DataSketches binary, rows-only),
    every piece here is engine-portable algebra: md5 splits into an
    8-bit register index + a 48-bit stream; the rank is leading
    zeros + 1 via the shared ``length(bin(w))`` text; and the
    harmonic mean's Σ2^-M — the classically float-fragile part —
    is EXACT because every addend is dyadic: scaled by 2^49 it is an
    integer sum of shifted ones (the EWMA trick applied to a
    sketch). Only the final alpha·m²/S division and the small-range
    ln correction are float — one fixed tree on identical inputs.

    The '__all__' row is built by MERGING the per-type register
    tables (register-wise max — HLL's union operator) while the
    oracle builds global registers from scratch; the hash match
    proves the merge lossless, the same union-proof device as KMV.
    Standard accuracy (~1.04/√256 ≈ 6.5%) is visible in err_bp next
    to the exact n_true.
    """
    # null-ts device (r11): a user-day needs a day (and concat_ws
    # SKIPS a null day where DuckDB's || nulls the key — divergent)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            F.concat_ws(
                "|",
                F.col("user_id").cast("string"),
                F.date_format("ts", "yyyy-MM-dd"),
            ).alias("k"),
        )
        .distinct()
    )
    hashed = ev.select(
        "event_type", F.md5(F.concat(F.lit("hll|"), F.col("k"))).alias("h")
    )
    # r8: hashed feeds the register stream and both truth twins, regs
    # feeds the per-type and merged paths — checkpoint both
    hashed = hashed.persist()  # distinct user-day grain: data-proportional (r11 rule)
    slotted = hashed.select(
        "event_type",
        F.expr(sql_hex_to_long("substr(h, 1, 2)", 2)).alias("reg"),
        F.expr(sql_hex_to_long("substr(h, 3, 12)", 12)).alias("w"),
    )
    ranked = slotted.select(
        "event_type",
        "reg",
        F.when(F.col("w") == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.expr("bin(w)")))
        .alias("m"),
    )
    # r13 (guide §2.3): truth used to be its own full pass over the
    # persisted hash frame (groupBy(event_type).count). The register
    # reduction already visits every row, so it carries the count —
    # n_true per event_type is exactly Σ over its registers of the
    # per-register row count (hashed is distinct at (event_type, k)
    # grain, so rows ARE the truth). One pass serves both.
    regs = ranked.groupBy("event_type", "reg").agg(
        F.max("m").alias("mr"),
        F.count(F.lit(1)).alias("n_rows"),
    # ckpt-grain: bounded — event_type x 49-register grain
    ).localCheckpoint(eager=False)
    truth = regs.groupBy("event_type").agg(
        F.sum("n_rows").cast("bigint").alias("n_true")
    )
    g_regs = regs.groupBy("reg").agg(F.max("mr").alias("mr"))
    g_truth = hashed.agg(F.countDistinct("h").alias("n_true"))

    def estimate(reg_df, truth_df, label_col):
        s = reg_df.groupBy(*([c for c in ("event_type",) if c in reg_df.columns])).agg(
            (
                F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(49 - mr AS INT))"))
                + (F.lit(256) - F.count(F.lit(1)))
                * F.expr("shiftleft(CAST(1 AS BIGINT), 49)")
            )
            .cast("double")
            .alias("s49"),
            (F.lit(256) - F.count(F.lit(1))).alias("zeros"),
        )
        raw = (
            F.lit(0.7182725932495458)
            * F.lit(65536)
            * F.expr("CAST(shiftleft(CAST(1 AS BIGINT), 49) AS DOUBLE)")
            / F.col("s49")
        )
        est = F.round(
            F.when(
                (raw <= 640) & (F.col("zeros") > 0),
                F.lit(256) * F.log(F.lit(256.0) / F.col("zeros")),
            ).otherwise(raw),
            2,
        )
        if "event_type" in s.columns:
            joined = s.join(truth_df, "event_type")
            lbl = F.col("event_type")
        else:
            joined = s.crossJoin(F.broadcast(truth_df))
            lbl = F.lit(label_col)
        return joined.select(
            lbl.alias("event_type"),
            F.col("n_true").cast("bigint").alias("n_true"),
            est.alias("est_distinct"),
            F.col("zeros").cast("bigint").alias("zeros"),
        )

    per_type = estimate(regs, truth, None)
    g = estimate(g_regs, g_truth, "__all__")
    u = per_type.unionByName(g)
    return u.select(
        "event_type",
        "n_true",
        "est_distinct",
        "zeros",
        F.round(
            F.abs(F.col("est_distinct") - F.col("n_true")) / F.col("n_true") * 10000,
            0,
        )
        .cast("bigint")
        .alias("err_bp"),
    )


@query(
    "agg_bitmap_distinct_users",
    oracle="""
    WITH base AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    pertype AS (
        SELECT event_type, count(*) AS n_distinct_users FROM base GROUP BY 1
    ),
    allrow AS (
        SELECT '__all__' AS event_type,
               count(DISTINCT user_id) AS n_distinct_users
        FROM events
    )
    SELECT event_type, CAST(n_distinct_users AS BIGINT) AS n_distinct_users
    FROM (SELECT * FROM pertype UNION ALL SELECT * FROM allrow) u
    """,
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap algebra — the
    roaring-bitmap device every serious warehouse uses when distinct
    counts must be exact AND mergeable (plain count-distinct partials
    don't merge; bitmaps OR-merge losslessly). Each user_id maps to
    bit (id % 64) of word (id / 64); per (event_type, word) the
    engine OR-aggregates a BIGINT mask, distinct count = Σ
    bit_count(mask). The '__all__' row is produced by OR-MERGING the
    per-type word masks — never touching the raw data again — while
    the oracle computes every count with plain COUNT(DISTINCT): the
    hash match proves the bitmap representation and its union
    algebra exact.

    Scale: state per group = (#distinct ids / 64) words, dense and
    mergeable — the incremental-distinct answer
    (incremental_agg_maintenance's device cannot merge distincts;
    this can). Shuffle carries word-grain partials, combiner-friendly.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    words = ev.select(
        "event_type",
        F.expr("user_id DIV 64").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
            "bit"
        ),
    ).groupBy("event_type", "word_idx").agg(
        F.expr("bit_or(bit)").alias("mask")
    )
    pertype = words.groupBy("event_type").agg(
        F.sum(F.expr("bit_count(mask)")).cast("bigint").alias("n_distinct_users")
    )
    merged = (
        words.groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("mask"))
        .agg(
            F.coalesce(F.sum(F.expr("bit_count(mask)")), F.lit(0))
            .cast("bigint")
            .alias("n_distinct_users")
        )
        .select(F.lit("__all__").alias("event_type"), "n_distinct_users")
    )
    return pertype.unionByName(merged)


@query(
    "eval_spearman_rank_corr",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev,
               count(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(row_number() OVER
                    (ORDER BY rev DESC, o_custkey ASC) AS BIGINT) AS rx,
               CAST(row_number() OVER
                    (ORDER BY n_orders DESC, o_custkey ASC) AS BIGINT) AS ry
        FROM cust
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS HUGEINT)
                   AS sd2
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sd2 AS BIGINT) AS sum_d2,
           CAST(CASE WHEN 6 * sd2 * 10000 * 2 <= 2 * n * (n * n - 1) * 10000
                THEN (2 * (n * (CAST(n AS HUGEINT) * n - 1) * 10000
                           - 6 * sd2 * 10000)
                      + n * (CAST(n AS HUGEINT) * n - 1))
                     // (2 * n * (CAST(n AS HUGEINT) * n - 1))
                ELSE -(((2 * (6 * sd2 * 10000
                              - n * (CAST(n AS HUGEINT) * n - 1) * 10000))
                        + n * (CAST(n AS HUGEINT) * n - 1))
                       // (2 * n * (CAST(n AS HUGEINT) * n - 1)))
                END AS BIGINT) AS rho_bp
    FROM s
    """,
)
def eval_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between customer revenue rank and
    order-count rank — the monotone-association complement of Pearson
    (agg_corr / window_rolling_correlation): insensitive to outlier
    whales, it answers "do frequent buyers tend to be big spenders"
    as a pure ordering statement. Ranks are ROW-NUMBER ranks with the
    customer key as tie-break (documented: the Kendall-tau companion
    uses pairwise signs; midrank-tie Spearman would need the u2
    device), so rho = 1 − 6Σd²/(n(n²−1)) is an EXACT rational —
    cross-multiplied to half-up basis points with negative mirroring,
    HUGEINT/decimal widening where n³ outgrows 64 bits.

    One customer rollup, two global ranks on that grain (range
    partition at scale), one subtraction — no float anywhere.
    """
    cust = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(exact_cents(F.col("o_totalprice")))
        .cast("bigint")
        .alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    ranked = cust.select(
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("rx"),
        F.row_number()
        .over(Window.orderBy(F.desc("n_orders"), F.asc("o_custkey")))
        .cast("bigint")
        .alias("ry"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("rx") - F.col("ry")).cast("decimal(38,0)")
            * (F.col("rx") - F.col("ry"))
        )
        .cast("decimal(38,0)")
        .alias("sd2"),
    )
    n = F.col("n").cast("decimal(38,0)")
    den = n * (n * n - 1)
    num = den * 10000 - F.lit(6) * F.col("sd2") * 10000
    # Half-up with negative mirroring via IntegralDivide (DIV): Spark's
    # decimal `/` rounds the quotient HALF_UP to scale 6 BEFORE floor,
    # so floor(/) and DuckDB's exact `//` can disagree by 1 bp when
    # num/den lands within ~5e-7 of a .5 tie (playbook: "decimal / +
    # floor is NOT exact integral division — use DIV").
    staged = s.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("sd2").cast("bigint").alias("sum_d2"),
        num.alias("num"),
        den.alias("den"),
    )
    return staged.select(
        "n_customers",
        "sum_d2",
        F.when(
            F.col("num") >= 0,
            F.expr("(2 * num + den) DIV nullif(2 * den, 0)"),
        )
        .otherwise(-F.expr("(2 * (-num) + den) DIV nullif(2 * den, 0)"))
        .cast("bigint")
        .alias("rho_bp"),
    )


@query(
    "agg_grouped_ols_trend",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority AS priority,
               CAST(date_part('year', o_orderdate) * 12
                    + date_part('month', o_orderdate) AS BIGINT) AS x,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    anchored AS (
        SELECT priority, x - min(x) OVER () AS x0, y FROM m
    ),
    s AS (
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x0) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x0 AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x0 AS HUGEINT) * x0) AS HUGEINT) AS sxx
        FROM anchored GROUP BY 1
    )
    SELECT priority, n,
           CAST(CASE WHEN n * sxy - CAST(sx AS HUGEINT) * sy >= 0
                THEN (2 * (n * sxy - CAST(sx AS HUGEINT) * sy)
                      + (n * sxx - CAST(sx AS HUGEINT) * sx))
                     // (2 * (n * sxx - CAST(sx AS HUGEINT) * sx))
                ELSE -((2 * (CAST(sx AS HUGEINT) * sy - n * sxy)
                        + (n * sxx - CAST(sx AS HUGEINT) * sx))
                       // (2 * (n * sxx - CAST(sx AS HUGEINT) * sx)))
                END AS BIGINT) AS slope_cents_per_month
    FROM s
    """,
)
def agg_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped OLS ("millions of tiny models"): the least-squares
    revenue trend slope fitted PER GROUP in one aggregation pass —
    no per-group iteration, no ML library: each group reduces to the
    five sufficient statistics and the slope closed form, which is
    why a 100 TB engine can fit one model per customer/SKU/region in
    a single shuffle. Month indices anchor to the global minimum so
    the cross-products stay small; the slope (nΣxy−ΣxΣy)/(nΣxx−ΣxΣx)
    is an exact integer rational, reported half-up in cents/month
    with negative mirroring (the robust Theil-Sen twin is
    forecast_theil_sen_trend; this is the classical estimator).
    """
    from leadsight_sales_agent_spark.operators.windows import order_cents_rollup

    m = order_cents_rollup(
        load(spark, sf_dir, "orders"),
        [
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("bigint").alias("x"),
        ],
        "y",
    )
    anchored = m.select(
        "priority",
        (F.col("x") - F.min("x").over(Window.partitionBy())).alias("x0"),
        "y",
    )
    s = anchored.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x0").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x0").cast("decimal(38,0)") * F.col("y"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("x0").cast("decimal(38,0)") * F.col("x0"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    n = F.col("n").cast("decimal(38,0)")
    num = n * F.col("sxy") - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    den = n * F.col("sxx") - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    # DIV, not floor(/): Spark decimal division pre-rounds the quotient
    # HALF_UP to scale 6, so floor(/) diverges from DuckDB `//` at
    # near-tie quotients (playbook device — see eval_spearman_rank_corr).
    staged = s.select("priority", "n", num.alias("num"), den.alias("den"))
    return staged.select(
        "priority",
        "n",
        F.when(
            F.col("num") >= 0,
            F.expr("(2 * num + den) DIV nullif(2 * den, 0)"),
        )
        .otherwise(-F.expr("(2 * (-num) + den) DIV nullif(2 * den, 0)"))
        .cast("bigint")
        .alias("slope_cents_per_month"),
    )


@query(
    "agg_boxplot_five_number",
    oracle="""
    WITH c AS (
        SELECT c_mktsegment AS segment,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    ranked AS (
        SELECT segment, cents,
               row_number() OVER (PARTITION BY segment ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY segment) AS n
        FROM c
    ),
    fn AS (
        SELECT segment,
               max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
               max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med,
               max(CASE WHEN rn = (3 * n + 1) // 4 THEN cents END) AS q3,
               min(cents) AS lo, max(cents) AS hi,
               CAST(max(n) AS BIGINT) AS n
        FROM ranked GROUP BY 1
    )
    SELECT f.segment, f.n, f.lo AS min_cents, f.q1, f.med, f.q3,
           f.hi AS max_cents,
           CAST((SELECT count(*) FROM c
                 WHERE c.segment = f.segment
                   AND (2 * c.cents > 2 * f.q3 + 3 * (f.q3 - f.q1)
                        OR 2 * c.cents < 2 * f.q1 - 3 * (f.q3 - f.q1)))
                AS BIGINT) AS n_tukey_outliers
    FROM fn f
    """,
)
def agg_boxplot_five_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-number boxplot summary per segment (min / Q1 / median /
    Q3 / max) plus the Tukey-fence outlier count — the descriptive
    spread report behind every box-and-whisker chart. Quartiles are
    rank-picked ELEMENTS of the data (positions ⌈n/4⌉, ⌈n/2⌉,
    ⌈3n/4⌉ — no interpolation, cross-engine exact on cents), and the
    1.5·IQR fences never compute 1.5: the comparison
    cents > Q3 + 1.5·IQR cross-multiplies by 2 into pure integers.

    One shuffle ranks each segment; the outlier count re-scans the
    grain against the broadcast fences (at 100 TB: fence table is
    |segments| rows — the MAD-outlier broadcast shape).
    """
    c = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    wseg = Window.partitionBy("segment").orderBy("cents")
    wc = Window.partitionBy("segment")
    ranked = c.select(
        "segment",
        "cents",
        F.row_number().over(wseg).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    fn = ranked.groupBy("segment").agg(
        F.max(F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("cents"))).alias(
            "q1"
        ),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("cents"))).alias(
            "med"
        ),
        F.max(
            F.when(F.col("rn") == F.expr("(3 * n + 1) DIV 4"), F.col("cents"))
        ).alias("q3"),
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.max("n").cast("bigint").alias("n"),
    )
    fences = fn.select("segment", "q1", "q3")
    out = (
        c.join(F.broadcast(fences), "segment")
        .filter(
            (
                F.lit(2) * F.col("cents")
                > F.lit(2) * F.col("q3") + F.lit(3) * (F.col("q3") - F.col("q1"))
            )
            | (
                F.lit(2) * F.col("cents")
                < F.lit(2) * F.col("q1") - F.lit(3) * (F.col("q3") - F.col("q1"))
            )
        )
        .groupBy("segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tukey_outliers"))
    )
    return (
        fn.join(out, "segment", "left")
        .select(
            "segment",
            "n",
            F.col("lo").alias("min_cents"),
            "q1",
            "med",
            "q3",
            F.col("hi").alias("max_cents"),
            F.coalesce("n_tukey_outliers", F.lit(0)).cast("bigint").alias(
                "n_tukey_outliers"
            ),
        )
    )


@query(
    "agg_weighted_percentile_p90",
    oracle="""
    WITH w AS (
        SELECT CAST(CAST(l_extendedprice / l_quantity AS DECIMAL(25,2)) * 100
                    AS BIGINT) AS unit_cents,
               CAST(l_quantity AS BIGINT) AS wt,
               l_returnflag AS flag
        FROM lineitem WHERE l_quantity > 0
    ),
    cum AS (
        SELECT flag, unit_cents, wt,
               sum(wt) OVER (PARTITION BY flag ORDER BY unit_cents, wt
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(wt) OVER (PARTITION BY flag) AS tot
        FROM w
    ),
    hit AS (
        SELECT flag, unit_cents, tot,
               row_number() OVER (PARTITION BY flag ORDER BY unit_cents, wt)
                   AS rn
        FROM cum WHERE 10 * cw >= 9 * tot
    )
    SELECT flag, CAST(tot AS BIGINT) AS total_weight,
           CAST(unit_cents AS BIGINT) AS p90_unit_cents
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_percentile_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted 90th-percentile unit price per return flag —
    the general weighted quantile (agg_weighted_median_price is the
    p50 special case): the smallest unit price whose cumulative
    QUANTITY reaches 90% of the total, i.e. "9 of 10 units sold at
    or below this price" — the inventory-valuation and price-banding
    statistic where row-weighted percentiles mislead (one 1000-unit
    line must count 1000×). The threshold is the division-free
    integer compare 10·cum ≥ 9·total on exact cents x units; the
    picked value is an ELEMENT of the data.

    One partition sort per flag serves the cumulative sum AND the
    first-hit rank — a single exchange.
    """
    w = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .select(
            exact_cents(F.col("l_extendedprice") / F.col("l_quantity"))
            .alias("unit_cents"),
            F.col("l_quantity").cast("bigint").alias("wt"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    wo = Window.partitionBy("flag").orderBy("unit_cents", "wt")
    cum = w.select(
        "flag",
        "unit_cents",
        "wt",
        F.sum("wt").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cw"),
        F.sum("wt").over(Window.partitionBy("flag")).alias("tot"),
    )
    hit = cum.filter(F.lit(10) * F.col("cw") >= F.lit(9) * F.col("tot")).select(
        "flag",
        "unit_cents",
        "tot",
        F.row_number().over(wo).alias("rn"),
    )
    return hit.filter(F.col("rn") == 1).select(
        "flag",
        F.col("tot").cast("bigint").alias("total_weight"),
        F.col("unit_cents").cast("bigint").alias("p90_unit_cents"),
    )


@query(
    "eval_qq_quantile_pairs",
    oracle="""
    WITH s AS (
        SELECT c.c_mktsegment AS seg,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    ranked AS (
        SELECT seg, cents,
               row_number() OVER (PARTITION BY seg ORDER BY cents) AS rn,
               count(*) OVER (PARTITION BY seg) AS n
        FROM s
    ),
    deciles AS (
        SELECT seg, d.d AS decile,
               max(CASE WHEN rn = (d.d * n + 9) // 10 THEN cents END) AS q
        FROM ranked
        CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS d) d
        GROUP BY 1, 2
    )
    SELECT a.decile,
           CAST(a.q AS BIGINT) AS building_cents,
           CAST(b.q AS BIGINT) AS machinery_cents,
           CAST(a.q - b.q AS BIGINT) AS gap_cents
    FROM deciles a JOIN deciles b ON a.decile = b.decile
    WHERE a.seg = 'BUILDING' AND b.seg = 'MACHINERY'
    """,
)
def eval_qq_quantile_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-Q comparison: the nine decile order statistics of order value
    for two segments, PAIRED by decile index — the quantile-quantile
    plot's data, which shows WHERE two distributions diverge (a KS
    statistic says they differ; the Q-Q gap column says "only above
    the 7th decile — it's a tail effect"). Deciles are rank-picked
    ELEMENTS at ⌈d·n/10⌉ (exact on cents, no interpolation), so the
    paired table hash-checks bit-exactly.

    One partitioned rank per segment; the 9-position decile grid
    joins on the grain, and the pairing is a 9-row self-join.
    """
    s = (
        load(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    ranked = s.select(
        "seg",
        "cents",
        F.row_number().over(Window.partitionBy("seg").orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("seg")).alias("n"),
    )
    ds = spark.range(1, 10).select(F.col("id").cast("bigint").alias("decile"))
    deciles = (
        ranked.crossJoin(F.broadcast(ds))
        .groupBy("seg", "decile")
        .agg(
            F.max(
                F.when(
                    F.col("rn") == F.expr("(decile * n + 9) DIV 10"), F.col("cents")
                )
            ).alias("q")
        )
    )
    a = deciles.filter(F.col("seg") == "BUILDING").select(
        "decile", F.col("q").alias("building_cents")
    )
    b = deciles.filter(F.col("seg") == "MACHINERY").select(
        "decile", F.col("q").alias("machinery_cents")
    )
    return a.join(b, "decile").select(
        "decile",
        F.col("building_cents").cast("bigint").alias("building_cents"),
        F.col("machinery_cents").cast("bigint").alias("machinery_cents"),
        (F.col("building_cents") - F.col("machinery_cents"))
        .cast("bigint")
        .alias("gap_cents"),
    )


@query(
    "profile_column_entropy",
    oracle="""
    WITH cols AS (
        SELECT 'o_orderpriority' AS col, o_orderpriority AS v FROM orders
        UNION ALL
        SELECT 'o_orderstatus', o_orderstatus FROM orders
        UNION ALL
        SELECT 'c_mktsegment', c_mktsegment FROM customer
        UNION ALL
        SELECT 'l_returnflag', l_returnflag FROM lineitem
        UNION ALL
        SELECT 'event_type', event_type FROM events
    ),
    freq AS (
        SELECT col, v, count(*) AS c FROM cols GROUP BY 1, 2
    ),
    tot AS (
        SELECT col, sum(c) AS n, count(*) AS n_distinct FROM freq GROUP BY 1
    )
    SELECT f.col, CAST(t.n_distinct AS BIGINT) AS n_distinct,
           round(CAST(CAST(sum(CAST(round(- (CAST(f.c AS DOUBLE) / t.n)
                                          * ln(CAST(f.c AS DOUBLE) / t.n), 12)
                                    AS DECIMAL(14,12)))
                           AS DECIMAL(15,12)) AS DOUBLE), 6)
               AS entropy_nats,
           round(ln(CAST(t.n_distinct AS DOUBLE)), 6) AS max_entropy_nats
    FROM freq f JOIN tot t ON f.col = t.col
    GROUP BY f.col, t.n_distinct, t.n
    """,
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per categorical column across the schema — the
    information-content profile that ranks columns for partitioning,
    encoding, and feature value: entropy near ln(k) means uniform
    (great partition key, useless feature on its own), near 0 means
    degenerate (drop it). Reported beside the uniform-maximum so the
    ratio reads directly.

    One union-of-scans to the (column, value) grain (each leg reads
    ONE pruned column), a 2-level reduce, and the PSI ln-rounding
    regime for the only float step — the frequencies entering ln are
    exact-integer ratios, quantized per term to 12dp decimals before
    summing (the Zipf device: decimal addition is associative, so
    partial-agg order can't wiggle the 6dp output). The same pattern
    extends mechanically to
    any column list (profile_table_summary is the null/min/max
    sibling).
    """
    legs = [
        ("o_orderpriority", load(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("v"))),
        ("o_orderstatus", load(spark, sf_dir, "orders").select(F.col("o_orderstatus").alias("v"))),
        ("c_mktsegment", load(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("v"))),
        ("l_returnflag", load(spark, sf_dir, "lineitem").select(F.col("l_returnflag").alias("v"))),
        ("event_type", load(spark, sf_dir, "events").select(F.col("event_type").alias("v"))),
    ]
    cols = None
    for name, df in legs:
        leg = df.select(F.lit(name).alias("col"), "v")
        cols = leg if cols is None else cols.unionByName(leg)
    freq = cols.groupBy("col", "v").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.groupBy("col").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    j = freq.join(tot, "col")
    p = F.col("c").cast("double") / F.col("n")
    # r13 (plan-lint R9): each |p ln p| term is < 1/e and the sum is
    # MATH-bounded by ln(n_distinct) < 90 for any cardinality a
    # decimal can count — narrow-decimal device (exact int64-path
    # conversion; ANSI overflow is the canary on the bound claim).
    term = F.round(-p * F.log(p), 12).cast("decimal(14,12)")
    return j.groupBy("col", "n_distinct", "n").agg(
        F.round(F.sum(term).cast("decimal(15,12)").cast("double"), 6).alias("entropy_nats"),
        F.round(F.log(F.col("n_distinct").cast("double")), 6).alias(
            "max_entropy_nats"
        ),
    ).select(
        "col",
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "entropy_nats",
        "max_entropy_nats",
    )


@query(
    "price_elasticity_grouped",
    oracle=f"""
    WITH parts AS (
        SELECT p.p_brand AS brand, l.l_partkey,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev_cents,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ),
    pts AS (
        SELECT brand,
               CAST(round(ln(CAST(rev_cents AS DOUBLE) / qty), 12)
                    AS DECIMAL(14,12)) AS x,
               CAST(round(ln(CAST(qty AS DOUBLE)), 12)
                    AS DECIMAL(14,12)) AS y
        FROM parts WHERE qty > 0
    ),
    terms AS (
        SELECT brand, x, y,
               CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 10)
                    AS DECIMAL(14,10)) AS xy,
               CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 10)
                    AS DECIMAL(14,10)) AS xx
        FROM pts
    ),
    s AS (
        SELECT brand, count(*) AS k,
               {sql_d53s("sum(x)", 12)} AS sx, {sql_d53s("sum(y)", 12)} AS sy,
               {sql_d53s("sum(xy)", 10)} AS sxy, {sql_d53s("sum(xx)", 10)} AS sxx
        FROM terms GROUP BY 1
    )
    SELECT brand, CAST(k AS BIGINT) AS n_parts,
           round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4)
               AS elasticity
    FROM s WHERE k >= 10
    """,
)
def price_elasticity_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per brand, estimated as the
    log-log OLS slope across that brand's parts (x = ln realized
    unit price, y = ln quantity sold) — the pricing team's first
    screen for which brands tolerate a price increase (elasticity
    near 0) vs bleed volume (strongly negative). A grouped
    tiny-model like agg_grouped_ols_trend, but on the LOG scale —
    so the whole Zipf float regime applies: realized prices are
    ratios of exact integers (identical doubles), ln rounds to 12dp,
    cross-products to 10dp, all sums ride associative decimals, and
    the closed form runs once per brand on identical doubles.
    Brands with <10 parts are suppressed (no meaningful fit).
    """
    parts = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"), "l_partkey")
        .agg(
            F.sum(exact_cents(F.col("l_extendedprice")))
            .cast("bigint")
            .alias("rev_cents"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        )
    )
    pts = parts.filter(F.col("qty") > 0).select(
        "brand",
        # r13 (plan-lint R9): |ln| < 88 always, so the per-row points
        # ride the narrow-decimal device (p<=15 keeps the unscaled
        # value under 2^53 by TYPE); the brand sums below grow with
        # scale and ride the d53s split instead.
        F.round(F.log(F.col("rev_cents").cast("double") / F.col("qty")), 12)
        .cast("decimal(14,12)")
        .alias("x"),
        F.round(F.log(F.col("qty").cast("double")), 12)
        .cast("decimal(14,12)")
        .alias("y"),
    )
    terms = pts.select(
        "brand",
        "x",
        "y",
        F.round(F.col("x").cast("double") * F.col("y").cast("double"), 10)
        .cast("decimal(14,10)")
        .alias("xy"),
        F.round(F.col("x").cast("double") * F.col("x").cast("double"), 10)
        .cast("decimal(14,10)")
        .alias("xx"),
    )
    s = terms.groupBy("brand").agg(
        F.count(F.lit(1)).alias("k"),
        F.expr(d53s("sum(x)", 12)).alias("sx"),
        F.expr(d53s("sum(y)", 12)).alias("sy"),
        F.expr(d53s("sum(xy)", 10)).alias("sxy"),
        F.expr(d53s("sum(xx)", 10)).alias("sxx"),
    )
    return s.filter(F.col("k") >= 10).select(
        "brand",
        F.col("k").cast("bigint").alias("n_parts"),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("elasticity"),
    )


@query(
    "panel_fixed_effects_slope",
    oracle="""
    WITH panel AS (
        SELECT o_custkey AS cust,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1, 2
    ),
    g AS (
        SELECT cust, count(*) AS n_g,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM panel GROUP BY 1
        HAVING count(*) >= 2
    ),
    terms AS (
        SELECT CAST(round(CAST(CAST(n_g * sxy - CAST(sx AS HUGEINT) * sy
                                    AS BIGINT) AS DOUBLE)
                          / n_g, 6) AS DECIMAL(25,6)) AS num_t,
               CAST(round(CAST(CAST(n_g * sxx - CAST(sx AS HUGEINT) * sx
                                    AS BIGINT) AS DOUBLE)
                          / n_g, 6) AS DECIMAL(25,6)) AS den_t,
               n_g
        FROM g
    )
    SELECT CAST(count(*) AS BIGINT) AS n_entities,
           CAST(sum(n_g) AS BIGINT) AS n_obs,
           round(((CAST(CAST((CAST(CAST(sum(num_t) * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(num_t) * 1000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(num_t) * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000 AS DOUBLE))
                 / ((CAST(CAST((CAST(CAST(sum(den_t) * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(den_t) * 1000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(den_t) * 1000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000 AS DOUBLE)), 4)
               AS fe_slope_cents_per_order
    FROM terms
    """,
)
def panel_fixed_effects_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects (within) panel estimator: monthly revenue on
    monthly order count per CUSTOMER, with every customer's own
    level differenced out — the econometric answer to "what does one
    MORE order in a month buy", immune to cross-customer confounding
    (big customers have more orders AND higher revenue; pooled OLS
    conflates the two, the within transformation doesn't). β_FE =
    Σ_g centered-cross / Σ_g centered-var over single-customer
    panels with ≥2 months.

    Float regime: each group's centered sums (n·Σxy − ΣxΣy)/n are
    exact-integer numerators over the group count — divided as
    identical doubles, quantized to 6dp decimals (values are
    cents-scale; 6dp is far above ulp noise), and SUMMED as
    associative decimals across groups, so partial-aggregation order
    can't move the 4dp slope. One fact rollup, one customer-grain
    reduce, one global reduce.
    """
    panel = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("cust"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("x"),
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("y"),
        )
    )
    g = (
        panel.groupBy("cust")
        .agg(
            F.count(F.lit(1)).alias("n_g"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("sxy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
            .cast("decimal(38,0)")
            .alias("sxx"),
        )
        .filter(F.col("n_g") >= 2)
    )
    # r13 (plan-lint R9): the per-CUSTOMER centered sums are grain-
    # bounded (<= ~80 months x monthly cents) — int64-narrow before
    # the double conversion (canary on the bound); the cross-customer
    # term sums below grow with scale and ride the d53s split.
    num = (
        F.col("n_g").cast("decimal(38,0)") * F.col("sxy")
        - F.col("sx").cast("decimal(38,0)") * F.col("sy")
    ).cast("bigint").cast("double") / F.col("n_g")
    den = (
        F.col("n_g").cast("decimal(38,0)") * F.col("sxx")
        - F.col("sx").cast("decimal(38,0)") * F.col("sx")
    ).cast("bigint").cast("double") / F.col("n_g")
    terms = g.select(
        F.round(num, 6).cast("decimal(25,6)").alias("num_t"),
        F.round(den, 6).cast("decimal(25,6)").alias("den_t"),
        "n_g",
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum("n_g").cast("bigint").alias("n_obs"),
        F.round(
            ddbl(F.sum("num_t"), 6) / ddbl(F.sum("den_t"), 6), 4
        ).alias("fe_slope_cents_per_order"),
    )


AMS_GROUPS = 5  # median-of-means: mean over AMS_PER_GROUP basic
AMS_PER_GROUP = 5  # estimators cuts variance 5x; the median over the 5
# group means drives the failure probability down exponentially (the
# paper's standard parameterization)
AMS_ESTIMATORS = AMS_GROUPS * AMS_PER_GROUP


def _ams_sign() -> Column:
    """The AMS +-1 sign of item x for estimator j: the first md5 hex
    digit of "ams:j:x", below "8" -> +1."""
    return F.when(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("ams:"),
                    F.col("j").cast("string"),
                    F.lit(":"),
                    F.col("x").cast("string"),
                )
            ),
            1,
            1,
        )
        < "8",
        1,
    ).otherwise(-1)


@query(
    "sketch_ams_f2_moment",
    oracle=f"""
    WITH stream AS (
        SELECT l_partkey AS x FROM lineitem
    ),
    truth AS (
        SELECT CAST(sum(f) AS BIGINT) AS n_rows,
               CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2_true
        FROM (SELECT count(*) AS f FROM stream GROUP BY x)
    ),
    z AS (
        SELECT j.j,
               CAST(sum(CASE WHEN substring(md5('ams:' || CAST(j.j AS VARCHAR)
                                   || ':' || CAST(s.x AS VARCHAR)), 1, 1) < '8'
                             THEN 1 ELSE -1 END) AS BIGINT) AS zj
        FROM stream s
        CROSS JOIN (SELECT unnest(generate_series(1, {AMS_ESTIMATORS})) AS j) j
        GROUP BY 1
    ),
    grp AS (
        SELECT (j - 1) // {AMS_PER_GROUP} AS g, sum(zj * zj) AS gsum
        FROM z GROUP BY 1
    ),
    med AS (
        SELECT gsum,
               row_number() OVER (ORDER BY gsum, g) AS rk
        FROM grp
    )
    SELECT t.n_rows, t.f2_true,
           CAST((2 * max(CASE WHEN m.rk = {(AMS_GROUPS + 1) // 2}
                         THEN m.gsum END) + {AMS_PER_GROUP})
                // (2 * {AMS_PER_GROUP}) AS BIGINT) AS f2_ams,
           CAST((2 * 10000 * abs((2 * max(CASE WHEN m.rk = {(AMS_GROUPS + 1) // 2}
                                          THEN m.gsum END) + {AMS_PER_GROUP})
                                 // (2 * {AMS_PER_GROUP}) - t.f2_true)
                 + t.f2_true)
                // (2 * t.f2_true) AS BIGINT) AS err_bp,
           CAST({AMS_ESTIMATORS} AS INTEGER) AS n_estimators
    FROM truth t CROSS JOIN med m
    GROUP BY 1, 2
    """,
)
def sketch_ams_f2_moment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy, STOC'96
    — the paper that started streaming sketches), completing the
    deterministic sketch family (Count-Min, KMV, Bloom, HLL,
    Misra-Gries): F2 = Σ f_x² measures stream self-join size / skew,
    estimated in ONE pass with O(1) state per estimator — Z_j =
    Σ_rows s_j(x) where s_j is a ±1 hash sign, E[Z²] = F2 exactly.
    Median-of-means parameterization ({AMS_GROUPS} groups averaging
    {AMS_PER_GROUP} estimators each; rank-picked median, ties broken
    by group id, mean as a half-up integer) against the exact F2,
    with the error in basis points. The ±1 draws are the same derandomized-hash device as the
    JL projection and the Poisson bootstrap — no RNG, hash-exact.

    Scale: the x{AMS_ESTIMATORS} sign expansion collapses map-side to
    {AMS_ESTIMATORS} running sums (each estimator IS 8 bytes of state
    — the whole sketch fits in a register file at 100 TB); exact F2
    costs the one key-grain shuffle the sketch exists to avoid, kept
    here as the graded truth.
    """
    stream = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("x"))
    truth = (
        stream.groupBy("x")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum("f").cast("bigint").alias("n_rows"),
            F.sum(F.col("f").cast("decimal(38,0)") * F.col("f"))
            .cast("bigint")
            .alias("f2_true"),
        )
    )
    js = spark.range(1, AMS_ESTIMATORS + 1).select(
        F.col("id").cast("bigint").alias("j")
    )
    z = (
        stream.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(
            F.sum(_ams_sign())
            .cast("bigint")
            .alias("zj")
        )
    )
    grp = z.groupBy(
        F.expr(f"(j - 1) DIV {AMS_PER_GROUP}").alias("g")
    ).agg(F.sum(F.col("zj") * F.col("zj")).alias("gsum"))
    med_ranked = grp.select(
        "gsum",
        F.row_number().over(Window.orderBy("gsum", "g")).alias("rk"),
    )
    med_rk = (AMS_GROUPS + 1) // 2
    return (
        truth.crossJoin(med_ranked)
        .groupBy("n_rows", "f2_true")
        .agg(
            F.max(F.when(F.col("rk") == med_rk, F.col("gsum"))).alias("med_gsum")
        )
        .select(
            "n_rows",
            "f2_true",
            F.expr(
                f"CAST((2 * med_gsum + {AMS_PER_GROUP})"
                f" DIV (2 * {AMS_PER_GROUP}) AS BIGINT)"
            ).alias("f2_ams"),
            F.expr(
                f"CAST((2 * 10000 * abs((2 * med_gsum + {AMS_PER_GROUP})"
                f" DIV (2 * {AMS_PER_GROUP}) - f2_true) + f2_true)"
                " DIV (2 * f2_true) AS BIGINT)"
            ).alias("err_bp"),
            F.lit(AMS_ESTIMATORS).cast("int").alias("n_estimators"),
        )
    )


CS_ROWS = 5  # count-sketch depth (median over this many row estimates)
CS_PROBE_TOP = 20  # graded probe set: top true-count keys


@query(
    "sketch_count_sketch_estimates",
    oracle=f"""
    WITH stream AS (
        SELECT l_partkey AS x FROM lineitem
    ),
    hashed AS (
        SELECT s.x, j.j,
               substring(md5('cs:' || CAST(j.j AS VARCHAR) || ':'
                             || CAST(s.x AS VARCHAR)), 1, 2) AS bucket,
               CASE WHEN substring(md5('cs:' || CAST(j.j AS VARCHAR) || ':'
                                       || CAST(s.x AS VARCHAR)), 3, 1) < '8'
                    THEN 1 ELSE -1 END AS sgn
        FROM stream s
        CROSS JOIN (SELECT unnest(generate_series(1, {CS_ROWS})) AS j) j
    ),
    sketch AS (
        SELECT j, bucket, CAST(sum(sgn) AS BIGINT) AS cell
        FROM hashed GROUP BY 1, 2
    ),
    truth AS (
        SELECT x, CAST(count(*) AS BIGINT) AS true_count
        FROM stream GROUP BY 1
        ORDER BY true_count DESC, x LIMIT {CS_PROBE_TOP}
    ),
    probes AS (
        SELECT t.x, t.true_count, j.j,
               substring(md5('cs:' || CAST(j.j AS VARCHAR) || ':'
                             || CAST(t.x AS VARCHAR)), 1, 2) AS bucket,
               CASE WHEN substring(md5('cs:' || CAST(j.j AS VARCHAR) || ':'
                                       || CAST(t.x AS VARCHAR)), 3, 1) < '8'
                    THEN 1 ELSE -1 END AS sgn
        FROM truth t
        CROSS JOIN (SELECT unnest(generate_series(1, {CS_ROWS})) AS j) j
    ),
    ests AS (
        SELECT p.x, p.true_count, p.sgn * s.cell AS est,
               row_number() OVER (PARTITION BY p.x
                                  ORDER BY p.sgn * s.cell, p.j) AS rk
        FROM probes p
        JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
    )
    SELECT x AS partkey, true_count,
           max(CASE WHEN rk = {(CS_ROWS + 1) // 2} THEN est END) AS cs_estimate,
           abs(max(CASE WHEN rk = {(CS_ROWS + 1) // 2} THEN est END)
               - true_count) AS abs_err
    FROM ests GROUP BY 1, 2
    """,
)
def sketch_count_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (Charikar-Chen-Farach-Colton) point-frequency
    estimates — the SIGNED cousin of the Count-Min sketch already in
    the family: each of {CS_ROWS} rows hashes a key to one of 256
    buckets AND to a ±1 sign, the cell accumulates sign-weighted
    counts, and a key's estimate is the median over rows of
    sign·cell. Unlike Count-Min (biased up by collisions), collisions
    enter with random signs so the estimate is UNBIASED — the right
    sketch when under-counts are as bad as over-counts (e.g. feature
    frequencies feeding a model). Hashes and signs come from the
    repo's derandomized md5 device, so every cell and every estimate
    is a fixed hash-checkable value; the probe set is the top-{CS_PROBE_TOP}
    true keys with deterministic tie-break, graded with absolute error.

    Scale: the sketch is {CS_ROWS}x256 cells — map-side partials
    collapse the x{CS_ROWS} expansion before one tiny shuffle; probes
    broadcast against the cell table. The exact truth costs the
    key-grain shuffle the sketch avoids; it is kept as the graded
    baseline exactly like the Count-Min / KMV / Bloom / AMS anchors.
    """
    stream = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("x"))
    js = spark.range(1, CS_ROWS + 1).select(F.col("id").cast("bigint").alias("j"))

    def h(xcol):
        return F.md5(
            F.concat(F.lit("cs:"), F.col("j").cast("string"), F.lit(":"),
                     xcol.cast("string"))
        )

    hashed = stream.crossJoin(F.broadcast(js)).select(
        "x",
        "j",
        F.substring(h(F.col("x")), 1, 2).alias("bucket"),
        F.when(F.substring(h(F.col("x")), 3, 1) < "8", 1).otherwise(-1).alias("sgn"),
    )
    sketch = hashed.groupBy("j", "bucket").agg(
        F.sum("sgn").cast("bigint").alias("cell")
    )
    truth = (
        stream.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
        .orderBy(F.desc("true_count"), F.asc("x"))
        .limit(CS_PROBE_TOP)
    )
    probes = truth.crossJoin(F.broadcast(js)).select(
        "x",
        "true_count",
        "j",
        F.substring(h(F.col("x")), 1, 2).alias("bucket"),
        F.when(F.substring(h(F.col("x")), 3, 1) < "8", 1).otherwise(-1).alias("sgn"),
    )
    ests = probes.join(F.broadcast(sketch), ["j", "bucket"]).select(
        "x",
        "true_count",
        (F.col("sgn") * F.col("cell")).alias("est"),
        "j",
    )
    ranked = ests.select(
        "x",
        "true_count",
        "est",
        F.row_number()
        .over(Window.partitionBy("x").orderBy("est", "j"))
        .alias("rk"),
    )
    med = (CS_ROWS + 1) // 2
    return (
        ranked.groupBy(F.col("x").alias("partkey"), "true_count")
        .agg(F.max(F.when(F.col("rk") == med, F.col("est"))).alias("cs_estimate"))
        .select(
            "partkey",
            "true_count",
            "cs_estimate",
            F.abs(F.col("cs_estimate") - F.col("true_count")).alias("abs_err"),
        )
    )


# Two-sided geometric (discrete Laplace) inverse-CDF thresholds for
# epsilon = 1, sensitivity 1, truncated at |k| <= 8 (cumulative mass
# 0.99982; the tail clamps to +-8): floor(cdf(k) * 2^32) as 8-hex-char
# cut points. Derived from P(0) = (1-a)/(1+a), P(+-k) = P(0) a^k with
# a = e^-1 — the geometric mechanism of Ghosh-Roughgarden-Sundararajan.
DP_GEOM_THRESHOLDS = (
    (-8, "000a28da"), (-7, "0025c6b6"), (-6, "0070d893"), (-5, "013ce824"),
    (-4, "03679a03"), (-3, "094b6b1d"), (-2, "194e16e4"), (-1, "44d36eae"),
    (0, "bb20be0b"), (1, "e6a615d5"), (2, "f6a8c19c"), (3, "fc8c92b6"),
    (4, "feb74495"), (5, "ff835426"), (6, "ffce6603"), (7, "ffea03de"),
    (8, "fff42cb9"),
)


def _dp_noise_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < '{t}' THEN {k}" for k, t in DP_GEOM_THRESHOLDS
    )
    return f"CASE {cases} ELSE 8 END"


@query(
    "privacy_geometric_mechanism_counts",
    oracle=f"""
    WITH counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
        FROM events GROUP BY 1
    )
    SELECT event_type, true_count,
           CAST({_dp_noise_sql(
               "substring(md5('dp:' || event_type), 1, 8)"
           )} AS BIGINT) AS noise,
           true_count + CAST({_dp_noise_sql(
               "substring(md5('dp:' || event_type), 1, 8)"
           )} AS BIGINT) AS noisy_count,
           CAST(10000 AS BIGINT) AS epsilon_e4
    FROM counts
    """,
)
def privacy_geometric_mechanism_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The geometric mechanism (discrete Laplace — the
    Ghosh-Roughgarden-Sundararajan utility-optimal mechanism for
    counting queries) applied to per-type event counts at epsilon = 1,
    sensitivity 1 — completing the privacy family (k-anonymity,
    l-diversity, deterministic tokenization) with the
    differential-privacy release shape: integer noise drawn from the
    two-sided geometric by inverse CDF over a salted hash (the same
    derandomization device as the Poisson bootstrap; a production
    release draws from a secret-seeded or hardware source — with a
    PUBLIC seed this demonstrates the mechanism's arithmetic and
    utility, not a privacy guarantee, and says so). Noise truncates
    at |k| <= 8 (0.018% tail mass).

    Scale: the mechanism is a per-GROUP scalar expression after the
    one counting shuffle — noise addition costs nothing at any scale,
    which is exactly why DP releases run this shape at the
    aggregate (never the row) grain.
    """
    counts = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    noise = F.expr(
        _dp_noise_sql("substring(md5('dp:' || event_type), 1, 8)")
    ).cast("bigint")
    return counts.select(
        "event_type",
        "true_count",
        noise.alias("noise"),
        (F.col("true_count") + noise).alias("noisy_count"),
        F.lit(10000).cast("bigint").alias("epsilon_e4"),
    )


@query(
    "sketch_kmv_rolling_distinct_7d",
    oracle=f"""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               md5('kmvr|' || CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    daily AS (
        SELECT day, h,
               row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM du
    ),
    anchor AS (SELECT min(day) AS d0 FROM du),
    days AS (
        SELECT DISTINCT day AS t FROM du, anchor
        WHERE day >= d0 + 6
    ),
    win_hashes AS (
        SELECT DISTINCT d.t, s.h
        FROM days d
        JOIN daily s ON s.day BETWEEN d.t - 6 AND d.t
        WHERE s.rn <= {KMV_K}
    ),
    win_ranked AS (
        SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
        FROM win_hashes
    ),
    sk AS (
        SELECT t, max(h) AS kth_h, count(*) AS in_sk
        FROM win_ranked WHERE rn <= {KMV_K} GROUP BY 1
    ),
    truth AS (
        SELECT d.t, count(DISTINCT u.h) AS n_true
        FROM days d JOIN du u ON u.day BETWEEN d.t - 6 AND d.t
        GROUP BY 1
    )
    SELECT strftime(t.t, '%Y-%m-%d') AS day,
           CAST(t.n_true AS BIGINT) AS n_true,
           CAST(CASE WHEN s.in_sk < {KMV_K} THEN t.n_true
                ELSE ({KMV_K - 1} * {_HEX12})
                     // {sql_hex_to_long('s.kth_h', 12)} END AS BIGINT)
               AS est_distinct,
           CAST(abs(CASE WHEN s.in_sk < {KMV_K} THEN t.n_true
                    ELSE ({KMV_K - 1} * {_HEX12})
                         // {sql_hex_to_long('s.kth_h', 12)} END
                    - t.n_true) * 10000 // t.n_true AS BIGINT) AS err_bp
    FROM truth t JOIN sk s ON s.t = t.t
    """,
)
def sketch_kmv_rolling_distinct_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users from MERGED daily KMV sketches —
    the production rolling-cardinality pattern: persist one k-hash
    sketch per day, answer any trailing window by unioning 7 sketches
    and re-ranking, NEVER re-scanning raw history (the exact twin
    `rolling_active_users_7d` re-touches every event in the window;
    this touches 7 x {KMV_K} hashes). Merge losslessness is the KMV
    pigeonhole again, now across days: a hash among the window's k
    smallest has fewer than k smaller hashes in its own day, so it
    survives that day's sketch — the oracle builds each window's
    sketch from the daily sketches the same way, and the graded truth
    is the EXACT rolling distinct, so both the merge identity and the
    ~1/sqrt(k) error claim are checked per window position.

    Scale: daily sketch build is one day-partitioned rank; the window
    union joins the bounded day grid against <= k rows per day —
    31 x 7 x {KMV_K} hash rows total, independent of corpus size.
    """
    K = KMV_K
    du = (
        load(spark, sf_dir, "events")
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.md5(F.concat(F.lit("kmvr|"), F.col("user_id").cast("string"))).alias(
                "h"
            ),
        )
        .distinct()
        # r8: du feeds 4 consumers (daily ranks, the day anchor, the
        # day grid, the exact-truth twin) — checkpoint so the
        # scan+distinct runs once
        # ckpt-grain: slim-exception — 2-col distinct user-day keys, far below event grain
        .localCheckpoint(eager=False)
    )
    daily = du.withColumn(
        "rn", F.row_number().over(Window.partitionBy("day").orderBy("h"))
    )
    anchor = du.agg(F.min("day").alias("d0"))
    days = (
        du.select("day")
        .distinct()
        .crossJoin(F.broadcast(anchor))
        .filter(F.col("day") >= F.date_add(F.col("d0"), 6))
        .select(F.col("day").alias("t"))
        # ckpt-grain: bounded — distinct-day calendar grain
        .localCheckpoint(eager=False)
    )
    win_hashes = (
        F.broadcast(days)
        .join(
            daily.filter(F.col("rn") <= K),
            (F.col("day") >= F.date_sub(F.col("t"), 6))
            & (F.col("day") <= F.col("t")),
        )
        .select("t", "h")
        .distinct()
    )
    win_ranked = win_hashes.withColumn(
        "rn", F.row_number().over(Window.partitionBy("t").orderBy("h"))
    )
    sk = (
        win_ranked.filter(F.col("rn") <= K)
        .groupBy("t")
        .agg(F.max("h").alias("kth_h"), F.count("*").alias("in_sk"))
    )
    truth = (
        F.broadcast(days)
        .join(
            du,
            (F.col("day") >= F.date_sub(F.col("t"), 6))
            & (F.col("day") <= F.col("t")),
        )
        .groupBy("t")
        .agg(F.count_distinct("h").alias("n_true"))
    )
    est = F.when(F.col("in_sk") < K, F.col("n_true")).otherwise(
        F.expr(f"({K - 1} * {_HEX12}) DIV {sql_hex_to_long('kth_h', 12)}")
    )
    staged = truth.join(sk, "t").select(
        F.date_format("t", "yyyy-MM-dd").alias("day"),
        F.col("n_true").cast("bigint").alias("n_true"),
        est.cast("bigint").alias("est_distinct"),
    )
    # integer floor (DIV), matching the oracle's `//` exactly — a double
    # division truncated to bigint can flip at exact-multiple boundaries
    return staged.withColumn(
        "err_bp",
        F.expr("CAST(abs(est_distinct - n_true) * 10000 DIV n_true AS BIGINT)"),
    )


@query(
    "sketch_ams_join_size_estimate",
    oracle=f"""
    WITH a AS (
        SELECT l_partkey AS x FROM lineitem
        WHERE date_part('year', l_shipdate) = 1996
    ),
    b AS (
        SELECT l_partkey AS x FROM lineitem
        WHERE date_part('year', l_shipdate) = 1997
    ),
    truth AS (
        SELECT CAST(sum(CAST(fa.f AS HUGEINT) * fb.f) AS BIGINT) AS join_size
        FROM (SELECT x, count(*) AS f FROM a GROUP BY 1) fa
        JOIN (SELECT x, count(*) AS f FROM b GROUP BY 1) fb USING (x)
    ),
    za AS (
        SELECT j.j,
               CAST(sum(CASE WHEN substring(md5('ams:' || CAST(j.j AS VARCHAR)
                                   || ':' || CAST(a.x AS VARCHAR)), 1, 1) < '8'
                             THEN 1 ELSE -1 END) AS BIGINT) AS z
        FROM a CROSS JOIN (SELECT unnest(generate_series(1, {AMS_ESTIMATORS}))
                           AS j) j
        GROUP BY 1
    ),
    zb AS (
        SELECT j.j,
               CAST(sum(CASE WHEN substring(md5('ams:' || CAST(j.j AS VARCHAR)
                                   || ':' || CAST(b.x AS VARCHAR)), 1, 1) < '8'
                             THEN 1 ELSE -1 END) AS BIGINT) AS z
        FROM b CROSS JOIN (SELECT unnest(generate_series(1, {AMS_ESTIMATORS}))
                           AS j) j
        GROUP BY 1
    ),
    grp AS (
        SELECT (za.j - 1) // {AMS_PER_GROUP} AS g, sum(za.z * zb.z) AS gsum
        FROM za JOIN zb ON za.j = zb.j
        GROUP BY 1
    ),
    med AS (
        SELECT gsum, row_number() OVER (ORDER BY gsum, g) AS rk FROM grp
    )
    SELECT t.join_size,
           CAST(CASE WHEN max(CASE WHEN m.rk = {(AMS_GROUPS + 1) // 2}
                              THEN m.gsum END) >= 0
                THEN (2 * max(CASE WHEN m.rk = {(AMS_GROUPS + 1) // 2}
                              THEN m.gsum END) + {AMS_PER_GROUP})
                     // (2 * {AMS_PER_GROUP})
                ELSE -((2 * -max(CASE WHEN m.rk = {(AMS_GROUPS + 1) // 2}
                                 THEN m.gsum END) + {AMS_PER_GROUP})
                       // (2 * {AMS_PER_GROUP})) END AS BIGINT) AS est_join_size,
           CAST({AMS_ESTIMATORS} AS INTEGER) AS n_estimators
    FROM truth t CROSS JOIN med m
    GROUP BY 1
    """,
)
def sketch_ams_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from AMS sign sketches — the
    cardinality-estimation trick inside cost-based optimizers
    (Alon-Gibbons-Matias-Szegedy): |A ⋈ B| = Σ_x f_A(x)·f_B(x) is the
    inner product of two frequency vectors, and E[Z_A·Z_B] over shared
    sign functions equals it exactly — so each relation is summarized
    by {AMS_ESTIMATORS} 8-byte counters and the join size is estimated
    WITHOUT touching the other table (here: how many 1996 line items
    pair with 1997 line items on part key — the self-join-over-time
    question behind yearly-comparison query planning). Median-of-means
    as in sketch_ams_f2_moment; the estimate can be negative on
    adversarial draws, so the half-up report mirrors. Graded against
    the exact join size.

    Scale: each side collapses map-side to {AMS_ESTIMATORS} running
    sums over ITS OWN scan — the two relations never co-shuffle; exact
    truth (kept as the graded baseline) costs the key-grain join the
    sketch avoids.
    """
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("x"), F.year("l_shipdate").alias("yr")
    )
    a = li.filter(F.col("yr") == 1996).select("x")
    b = li.filter(F.col("yr") == 1997).select("x")
    fa = a.groupBy("x").agg(F.count(F.lit(1)).alias("f"))
    fb = b.groupBy("x").agg(F.count(F.lit(1)).alias("f"))
    truth = (
        fa.join(fb.withColumnRenamed("f", "fb"), "x")
        .agg(
            F.sum(F.col("f").cast("decimal(38,0)") * F.col("fb"))
            .cast("bigint")
            .alias("join_size")
        )
    )
    js = spark.range(1, AMS_ESTIMATORS + 1).select(
        F.col("id").cast("bigint").alias("j")
    )
    za = (
        a.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(_ams_sign()).cast("bigint").alias("za"))
    )
    zb = (
        b.crossJoin(F.broadcast(js))
        .groupBy("j")
        .agg(F.sum(_ams_sign()).cast("bigint").alias("zb"))
    )
    grp = (
        za.join(zb, "j")
        .groupBy(F.expr(f"(j - 1) DIV {AMS_PER_GROUP}").alias("g"))
        .agg(F.sum(F.col("za") * F.col("zb")).alias("gsum"))
    )
    med_ranked = grp.select(
        "gsum", F.row_number().over(Window.orderBy("gsum", "g")).alias("rk")
    )
    med_rk = (AMS_GROUPS + 1) // 2
    staged = (
        truth.crossJoin(med_ranked)
        .groupBy("join_size")
        .agg(F.max(F.when(F.col("rk") == med_rk, F.col("gsum"))).alias("med_gsum"))
    )
    pos = F.expr(
        f"(2 * med_gsum + {AMS_PER_GROUP}) DIV (2 * {AMS_PER_GROUP})"
    )
    neg = -F.expr(
        f"(2 * (-med_gsum) + {AMS_PER_GROUP}) DIV (2 * {AMS_PER_GROUP})"
    )
    return staged.select(
        "join_size",
        F.when(F.col("med_gsum") >= 0, pos)
        .otherwise(neg)
        .cast("bigint")
        .alias("est_join_size"),
        F.lit(AMS_ESTIMATORS).cast("int").alias("n_estimators"),
    )


QUANTILE_BUCKET_CENTS = 100_000  # $1000 histogram buckets for rank localization


@query(
    "quantile_bucket_localized_exact",
    oracle=f"""
    WITH base AS (
        SELECT l_returnflag AS flag,
               CAST(CAST(l_extendedprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM lineitem
    ),
    ranked AS (
        SELECT flag, cents,
               row_number() OVER (PARTITION BY flag ORDER BY cents) AS rk,
               count(*) OVER (PARTITION BY flag) AS n
        FROM base
    ),
    med AS (
        SELECT flag, CAST(n AS BIGINT) AS n_rows, cents AS median_cents
        FROM ranked WHERE rk = (n + 1) // 2
    )
    SELECT m.flag,
           m.n_rows,
           m.median_cents,
           m.median_cents // {QUANTILE_BUCKET_CENTS} AS located_bucket,
           CAST((SELECT count(*) FROM base b
                 WHERE b.flag = m.flag
                   AND b.cents // {QUANTILE_BUCKET_CENTS}
                       = m.median_cents // {QUANTILE_BUCKET_CENTS}) AS BIGINT)
               AS bucket_rows,
           CAST((2 * (SELECT count(*) FROM base b
                      WHERE b.flag = m.flag
                        AND b.cents // {QUANTILE_BUCKET_CENTS}
                            = m.median_cents // {QUANTILE_BUCKET_CENTS})
                     * 10000 + m.n_rows) // (2 * m.n_rows) AS BIGINT)
               AS scan_bp
    FROM med m
    """,
)
def quantile_bucket_localized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median WITHOUT a global sort — the two-phase
    rank-localization pattern every 100 TB engine uses where a naive
    ``orderBy`` would be the bottleneck:

    1. histogram pass: one hash-agg of row counts per (group, $1000
       price bucket) — a map-side-combinable aggregate whose output is
       bounded by the DOMAIN (~105 buckets), not the data;
    2. locate: a cumulative sum over the tiny bucket grid finds the
       bucket containing the target rank r = (n+1) DIV 2 and the local
       rank r_local = r − cum_prev within it;
    3. rescan: only the located bucket's rows (~1/100 of the data;
       `scan_bp` reports the exact fraction in basis points) are
       re-read — the 3-row locator broadcasts onto the scan as a
       pushable (flag, bucket) filter — and the r_local-th smallest
       value in that sliver IS the exact median.

    No global sort anywhere: the plan is two scans, one bounded-grid
    window, one broadcast semi-filter, one sliver-sized window. At any
    scale the re-scanned sliver is controlled by the bucket width (and
    the same step recurses if a bucket is still too fat — one more
    level makes it (1/100)^2). The oracle takes the opposite,
    quadratic-at-scale path (full-sort row_number) — same answer,
    mechanically independent construction.

    Everything is exact integers: cents via the DECIMAL(25,2)x100
    device, rank arithmetic via DIV, scan fraction via the cross-
    multiplied half-up bp device.
    """
    base = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        exact_cents(F.col("l_extendedprice")).alias("cents"),
    )
    hist = base.groupBy(
        "flag", F.expr(f"cents DIV {QUANTILE_BUCKET_CENTS}").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    grid = Window.partitionBy("flag").orderBy("bucket")
    located = (
        hist.select(
            "flag",
            "bucket",
            "cnt",
            F.sum("cnt").over(grid).alias("cum"),
            F.sum("cnt").over(Window.partitionBy("flag")).alias("n"),
        )
        .withColumn("r", F.expr("(n + 1) DIV 2"))
        .filter((F.col("cum") >= F.col("r")) & (F.col("cum") - F.col("cnt") < F.col("r")))
        .select(
            "flag",
            "bucket",
            "cnt",
            "n",
            (F.col("r") - (F.col("cum") - F.col("cnt"))).alias("r_local"),
        )
    )
    sliver = base.withColumn(
        "bucket", F.expr(f"cents DIV {QUANTILE_BUCKET_CENTS}")
    ).join(F.broadcast(located), ["flag", "bucket"])
    local = Window.partitionBy("flag", "bucket").orderBy("cents")
    return (
        sliver.withColumn("rk", F.row_number().over(local))
        .filter(F.col("rk") == F.col("r_local"))
        .select(
            "flag",
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("cents").alias("median_cents"),
            F.col("bucket").cast("bigint").alias("located_bucket"),
            F.col("cnt").cast("bigint").alias("bucket_rows"),
            F.expr("CAST((2 * cnt * 10000 + n) DIV (2 * n) AS BIGINT)").alias(
                "scan_bp"
            ),
        )
    )


SS_N_MONTHS = 36  # simulate 1995-1997 on the month grain


def _ss_policy_oracle() -> str:
    """Per-brand (s,S) replay as a recursive CTE carrying the demand
    LIST (the DTW device, 1-D state): state = (inv, orders, stockout
    units, served units); S = 2x average monthly demand, s = S/2."""
    return f"""
    WITH RECURSIVE demand AS (
        SELECT p.p_brand AS brand,
               (year(l.l_shipdate) - 1995) * 12
                   + CAST(month(l.l_shipdate) AS BIGINT) AS m,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT b.brand, g.m, coalesce(d.d, 0) AS d
        FROM (SELECT DISTINCT brand FROM demand) b
        CROSS JOIN (SELECT unnest(generate_series(1, {SS_N_MONTHS})) AS m) g
        LEFT JOIN demand d ON d.brand = b.brand AND d.m = g.m
    ),
    vecs AS (
        SELECT brand, list(d ORDER BY m) AS v,
               CAST(2 * sum(d) // {SS_N_MONTHS} AS BIGINT) AS cap_s
        FROM grid GROUP BY 1
    ),
    sim AS (
        SELECT brand, v, cap_s, 0 AS i,
               cap_s AS inv, CAST(0 AS BIGINT) AS n_orders,
               CAST(0 AS BIGINT) AS stockout_units,
               CAST(0 AS BIGINT) AS served
        FROM vecs
        UNION ALL
        SELECT brand, v, cap_s, i + 1,
               inv2 - least(inv2, v[i + 1]),
               n_orders + reorder,
               stockout_units + (v[i + 1] - least(inv2, v[i + 1])),
               served + least(inv2, v[i + 1])
        FROM (
            SELECT brand, v, cap_s, i, n_orders, stockout_units, served,
                   CASE WHEN inv < cap_s // 2 THEN cap_s ELSE inv END AS inv2,
                   CASE WHEN inv < cap_s // 2 THEN 1 ELSE 0 END AS reorder
            FROM sim WHERE i < {SS_N_MONTHS}
        )
    )
    SELECT brand,
           cap_s,
           CAST(inv AS BIGINT) AS end_inventory,
           n_orders, stockout_units, served,
           CAST(CASE WHEN served + stockout_units = 0 THEN 10000
                     ELSE (2 * 10000 * served + (served + stockout_units))
                          // (2 * (served + stockout_units)) END AS BIGINT)
               AS fill_rate_bp
    FROM sim WHERE i = {SS_N_MONTHS}
    """


def _brand_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line items shipped in 1995-1997, joined to their part's p_brand."""
    return (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(
            F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
    )


def _brand_monthly_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, m, d): units shipped per brand in month m of 1995-1997
    (m = 1 is January 1995); a month with no shipment has no row."""
    return _brand_lines(spark, sf_dir).groupBy(
        F.col("p_brand").alias("brand"),
        (
            (F.year("l_shipdate") - 1995) * 12 + F.month("l_shipdate").cast("bigint")
        ).alias("m"),
    ).agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("d"))


@query("inventory_ss_policy_replay", oracle=_ss_policy_oracle())
def inventory_ss_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(s,S) inventory-policy replay per brand — the classic
    sequential CONTROL simulation (reorder up to S whenever the level
    falls below s, then serve the month's demand, shortfalls lost):
    the operations-research sibling of the Holt/DTW unrolls, because a
    policy simulation is a 1-D state recursion, and the same fold
    device runs it exactly: per brand, the 36-month demand vector
    folds through ONE aggregate expression carrying the state
    (inventory, reorder count, stockout units, served units) — no
    driver loop, no Python, bounded by the calendar not the data. S is
    2x the brand's average monthly demand and s = S/2 (both derived
    integers), so the whole spec is data-deterministic.

    The graded output is the policy scorecard a supply planner reads:
    reorder events, lost units, fill rate in half-up bp, terminal
    inventory. Exactness: pure BIGINT min/max/DIV arithmetic; the
    oracle replays the identical recursion as a recursive CTE carrying
    the demand list (the DTW twin construction).
    """
    demand = _brand_monthly_demand(spark, sf_dir)
    months = spark.range(1, SS_N_MONTHS + 1).select(
        F.col("id").cast("bigint").alias("m")
    )
    grid = (
        demand.select("brand")
        .distinct()
        .crossJoin(F.broadcast(months))
        .join(demand, ["brand", "m"], "left")
        .select("brand", "m", F.coalesce("d", F.lit(0)).alias("d"))
    )
    vecs = grid.groupBy("brand").agg(
        F.expr("transform(array_sort(collect_list(struct(m, d))), x -> x.d)").alias(
            "v"
        ),
        F.expr(f"CAST(2 * sum(d) DIV {SS_N_MONTHS} AS BIGINT)").alias("cap_s"),
    )
    # state = [inv, n_orders, stockout_units, served]
    fold = f"""
    aggregate(
      sequence(1, {SS_N_MONTHS}),
      array(cap_s, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      (st, i) -> array(
        (CASE WHEN st[0] < cap_s DIV 2 THEN cap_s ELSE st[0] END)
          - least(CASE WHEN st[0] < cap_s DIV 2 THEN cap_s ELSE st[0] END,
                  element_at(v, CAST(i AS INT))),
        st[1] + (CASE WHEN st[0] < cap_s DIV 2 THEN 1 ELSE 0 END),
        st[2] + element_at(v, CAST(i AS INT))
          - least(CASE WHEN st[0] < cap_s DIV 2 THEN cap_s ELSE st[0] END,
                  element_at(v, CAST(i AS INT))),
        st[3] + least(CASE WHEN st[0] < cap_s DIV 2 THEN cap_s ELSE st[0] END,
                      element_at(v, CAST(i AS INT)))
      )
    )
    """
    sim = vecs.select("brand", "cap_s", F.expr(fold).alias("st"))
    return sim.select(
        "brand",
        "cap_s",
        F.expr("st[0]").cast("bigint").alias("end_inventory"),
        F.expr("st[1]").cast("bigint").alias("n_orders"),
        F.expr("st[2]").cast("bigint").alias("stockout_units"),
        F.expr("st[3]").cast("bigint").alias("served"),
        F.expr(
            "CAST(CASE WHEN st[3] + st[2] = 0 THEN 10000"
            " ELSE (2 * 10000 * st[3] + (st[3] + st[2]))"
            " DIV (2 * (st[3] + st[2])) END AS BIGINT)"
        ).alias("fill_rate_bp"),
    )


NV_CU = 3  # unit underage cost (lost margin)
NV_CO = 1  # unit overage cost (holding/salvage loss)
# critical fractile cu/(cu+co) = 3/4 -> rank ceil(0.75 n)


@query(
    "inventory_newsvendor_fractile",
    oracle=f"""
    WITH demand AS (
        SELECT p.p_brand AS brand,
               (year(l.l_shipdate) - 1995) * 12
                   + CAST(month(l.l_shipdate) AS BIGINT) AS m,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT brand, d,
               row_number() OVER (PARTITION BY brand ORDER BY d, m) AS rn,
               count(*) OVER (PARTITION BY brand) AS n
        FROM demand
    ),
    picks AS (
        SELECT brand,
               max(CASE WHEN rn = (3 * n + 3) // 4 THEN d END) AS q_star,
               max(CASE WHEN rn = (n + 1) // 2 THEN d END) AS q_med
        FROM ranked GROUP BY 1
    ),
    profit AS (
        SELECT d.brand,
               p.q_star, p.q_med,
               CAST(sum({NV_CU} * least(p.q_star, d.d)
                        - {NV_CO} * greatest(p.q_star - d.d, 0))
                    AS BIGINT) AS profit_star,
               CAST(sum({NV_CU} * least(p.q_med, d.d)
                        - {NV_CO} * greatest(p.q_med - d.d, 0))
                    AS BIGINT) AS profit_med
        FROM demand d JOIN picks p ON p.brand = d.brand
        GROUP BY 1, 2, 3
    )
    SELECT brand,
           CAST(q_star AS BIGINT) AS q_star,
           CAST(q_med AS BIGINT) AS q_median,
           profit_star, profit_med,
           CAST(profit_star - profit_med AS BIGINT) AS uplift
    FROM profit
    """,
)
def inventory_newsvendor_fractile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor critical-fractile stocking rule per brand — the
    single-period counterpart of the (s,S) replay: with underage cost
    {NV_CU} and overage cost {NV_CO}, the optimal stock is the
    cu/(cu+co) = 3/4 fractile of the demand distribution, taken here
    as the RANK-PICKED 75th-percentile element of the 36 observed
    monthly demands (ceil(0.75n), an element of the data — the
    playbook's interpolation-free quantile rule). The backtest column
    replays both q* and the median stock against the same months and
    reports the exact integer profit uplift the fractile rule earns —
    theory made auditable.

    Exactness: rank picks + integer min/max cost arithmetic, nothing
    else. Scale: one demand rollup, per-brand rank windows on
    36-row partitions, one profit re-aggregation.
    """
    demand = _brand_monthly_demand(spark, sf_dir)
    wb = Window.partitionBy("brand")
    ranked = demand.select(
        "brand",
        "d",
        F.row_number().over(wb.orderBy("d", "m")).alias("rn"),
        F.count(F.lit(1)).over(wb).alias("n"),
    )
    picks = ranked.groupBy("brand").agg(
        F.max(F.when(F.col("rn") == F.expr("(3 * n + 3) DIV 4"), F.col("d"))).alias(
            "q_star"
        ),
        F.max(F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("d"))).alias(
            "q_med"
        ),
    )
    profit = (
        demand.join(F.broadcast(picks), "brand")
        .groupBy("brand", "q_star", "q_med")
        .agg(
            F.sum(
                NV_CU * F.least(F.col("q_star"), F.col("d"))
                - NV_CO * F.greatest(F.col("q_star") - F.col("d"), F.lit(0))
            )
            .cast("bigint")
            .alias("profit_star"),
            F.sum(
                NV_CU * F.least(F.col("q_med"), F.col("d"))
                - NV_CO * F.greatest(F.col("q_med") - F.col("d"), F.lit(0))
            )
            .cast("bigint")
            .alias("profit_med"),
        )
    )
    return profit.select(
        "brand",
        F.col("q_star").cast("bigint").alias("q_star"),
        F.col("q_med").cast("bigint").alias("q_median"),
        "profit_star",
        "profit_med",
        (F.col("profit_star") - F.col("profit_med")).cast("bigint").alias("uplift"),
    )


EOQ_ORDER_COST_CENTS = 50_00  # fixed cost K per replenishment order
EOQ_HOLD_CENTS_PER_UNIT_YEAR = 2_00  # annual holding cost h per unit


@query(
    "inventory_eoq_per_brand",
    oracle=f"""
    WITH demand AS (
        SELECT p.p_brand AS brand,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) // 3 AS BIGINT)
                   AS annual_d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
    )
    SELECT brand, annual_d,
           CAST(floor(sqrt(2.0 * CAST(annual_d AS DOUBLE)
                           * {EOQ_ORDER_COST_CENTS}
                           / {EOQ_HOLD_CENTS_PER_UNIT_YEAR}) + 0.5)
                AS BIGINT) AS eoq_units,
           (annual_d + CAST(floor(sqrt(2.0 * CAST(annual_d AS DOUBLE)
                                       * {EOQ_ORDER_COST_CENTS}
                                       / {EOQ_HOLD_CENTS_PER_UNIT_YEAR}) + 0.5)
                            AS BIGINT) - 1)
                // CAST(floor(sqrt(2.0 * CAST(annual_d AS DOUBLE)
                              * {EOQ_ORDER_COST_CENTS}
                              / {EOQ_HOLD_CENTS_PER_UNIT_YEAR}) + 0.5)
                        AS BIGINT) AS orders_per_year
    FROM demand
    """,
)
def inventory_eoq_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per brand — Wilson's Q* = sqrt(2DK/h),
    the closed-form that completes the inventory-theory trio beside
    the (s,S) replay (continuous review) and the newsvendor fractile
    (single period): D is the brand's observed annual demand (three
    years averaged by integral DIV), K and h are spec constants, and
    orders_per_year = ceil(D/Q*) is the replenishment cadence the
    planner schedules.

    Exactness: one shared-text sqrt tree on integer-derived doubles,
    rounded through the floor(x+0.5) quantizer to WHOLE UNITS (an EOQ
    is a physical order size), then pure integer ceiling division.
    Scale: one rollup; the formula is map-side on the 25-row brand
    frame.
    """
    demand = (
        _brand_lines(spark, sf_dir)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.expr("CAST(sum(CAST(l_quantity AS BIGINT)) DIV 3 AS BIGINT)").alias(
                "annual_d"
            )
        )
    )
    eoq = (
        f"floor(sqrt(2.0 * CAST(annual_d AS DOUBLE) * {EOQ_ORDER_COST_CENTS}"
        f" / {EOQ_HOLD_CENTS_PER_UNIT_YEAR}) + 0.5)"
    )
    return demand.select(
        "brand",
        "annual_d",
        F.expr(f"CAST({eoq} AS BIGINT)").alias("eoq_units"),
        F.expr(f"CAST((annual_d + {eoq} - 1) DIV {eoq} AS BIGINT)").alias(
            "orders_per_year"
        ),
    )


TCLOSE_THRESHOLD_BP = 2000  # t = 0.2


@query(
    "dq_t_closeness_audit",
    oracle=f"""
    WITH joined AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               CAST(substring(o.o_orderpriority, 1, 1) AS INTEGER) AS sens
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    cells AS (
        SELECT segment, nation, sens, CAST(count(*) AS BIGINT) AS c
        FROM joined GROUP BY 1, 2, 3
    ),
    grid AS (
        SELECT g.segment, g.nation, s.sens, coalesce(c.c, 0) AS c
        FROM (SELECT DISTINCT segment, nation FROM cells) g
        CROSS JOIN (SELECT CAST(unnest(generate_series(1, 5)) AS INTEGER)
                    AS sens) s
        LEFT JOIN cells c ON c.segment = g.segment AND c.nation = g.nation
                         AND c.sens = s.sens
    ),
    gcum AS (
        SELECT segment, nation, sens,
               sum(c) OVER (PARTITION BY segment, nation
                            ORDER BY sens) AS cum_g,
               sum(c) OVER (PARTITION BY segment, nation) AS n_g
        FROM grid
    ),
    gtot AS (
        SELECT sens,
               sum(cnt) OVER (ORDER BY sens) AS cum_all,
               sum(cnt) OVER () AS n
        FROM (SELECT sens, CAST(sum(c) AS BIGINT) AS cnt
              FROM grid GROUP BY 1)
    ),
    terms AS (
        SELECT g.segment, g.nation, g.n_g, gl.n,
               abs(g.cum_g * gl.n - gl.cum_all * g.n_g) AS t
        FROM gcum g JOIN gtot gl ON gl.sens = g.sens
        WHERE g.sens < 5
    )
    SELECT segment, nation,
           CAST(max(n_g) AS BIGINT) AS n_rows,
           CAST((2 * 10000 * sum(t) + max(n_g) * max(n) * 4)
                // (2 * max(n_g) * max(n) * 4) AS BIGINT) AS emd_bp,
           CAST(CASE WHEN (2 * 10000 * sum(t) + max(n_g) * max(n) * 4)
                          // (2 * max(n_g) * max(n) * 4)
                          > {TCLOSE_THRESHOLD_BP}
                     THEN 1 ELSE 0 END AS INTEGER) AS breaches_t
    FROM terms GROUP BY 1, 2
    """,
)
def dq_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the third rung of the privacy-release ladder
    (dq_k_anonymity_audit bounds group SIZES, dq_l_diversity_audit
    bounds sensitive-value VARIETY, t-closeness bounds how far each
    quasi-identifier group's sensitive DISTRIBUTION may drift from the
    population's): for every (segment, nation) group, the Earth
    Mover's Distance between its order-priority distribution and the
    global one over the ORDERED 5-value domain, which for unit ground
    distance collapses to the mean absolute CDF gap — and therefore to
    exact integers by cross-multiplication: Σ|cum_g·n − cum_all·n_g|
    over n_g·n·(m−1), reported in half-up bp with the t=0.2 breach
    flag as an integer compare.

    Scale: one fact join, one (group, sens) collapse, windows on the
    dense 5-slot grid per group, a 5-row global CDF broadcast. The
    audit is release-gating: any breaching group must be generalized
    or suppressed before the table ships.
    """
    joined = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("sens"),
        )
    )
    # r8: cells feeds the grid keyset AND the grid join, grid feeds the
    # per-group and global CDF legs — checkpoint both so the fact join
    # runs once (also inherited by privacy_release_gate)
    cells = joined.groupBy("segment", "nation", "sens").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    # ckpt-grain: bounded — segment x nation x sensitivity grain
    ).localCheckpoint(eager=False)
    sens5 = spark.range(1, 6).select(F.col("id").cast("int").alias("sens"))
    grid = (
        cells.select("segment", "nation")
        .distinct()
        .crossJoin(F.broadcast(sens5))
        .join(cells, ["segment", "nation", "sens"], "left")
        .select(
            "segment", "nation", "sens", F.coalesce("c", F.lit(0)).alias("c")
        )
        # ckpt-grain: bounded — same segment x nation x sens grid, zero-filled
        .localCheckpoint(eager=False)
    )
    wg = Window.partitionBy("segment", "nation")
    gcum = grid.select(
        "segment",
        "nation",
        "sens",
        F.sum("c").over(wg.orderBy("sens")).alias("cum_g"),
        F.sum("c").over(wg).alias("n_g"),
    )
    glob = (
        grid.groupBy("sens")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .select(
            "sens",
            F.sum("cnt").over(Window.orderBy("sens")).alias("cum_all"),
            F.sum("cnt").over(Window.partitionBy()).alias("n"),
        )
    )
    terms = (
        gcum.filter(F.col("sens") < 5)
        .join(F.broadcast(glob), "sens")
        .select(
            "segment",
            "nation",
            "n_g",
            "n",
            F.abs(
                F.col("cum_g") * F.col("n") - F.col("cum_all") * F.col("n_g")
            ).alias("t"),
        )
    )
    return terms.groupBy("segment", "nation").agg(
        F.max("n_g").cast("bigint").alias("n_rows"),
        F.expr(
            "CAST((2 * 10000 * sum(t) + max(n_g) * max(n) * 4)"
            " DIV (2 * max(n_g) * max(n) * 4) AS BIGINT)"
        ).alias("emd_bp"),
        F.expr(
            f"CAST(CASE WHEN (2 * 10000 * sum(t) + max(n_g) * max(n) * 4)"
            f" DIV (2 * max(n_g) * max(n) * 4) > {TCLOSE_THRESHOLD_BP}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("breaches_t"),
    )


def _release_gate_oracle() -> str:
    """Composes the registered t-closeness spec (embedded verbatim via
    ORACLES — the mechanical-composition device) with unfiltered
    k-anonymity and l-diversity stats at the shared QI grain."""
    from leadsight_sales_agent_spark.registry import ORACLES

    tclose = ORACLES["dq_t_closeness_audit"]
    return f"""
    WITH tc AS ({tclose}),
    kl AS (
        SELECT c.c_mktsegment AS segment, n.n_name AS nation,
               CAST(count(*) AS BIGINT) AS group_size,
               CAST(count(DISTINCT least(CAST(floor(greatest(c.c_acctbal, 0)
                                              / 2000) AS BIGINT), 4))
                    AS BIGINT) AS n_sensitive_values
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    )
    SELECT kl.segment, kl.nation, kl.group_size, kl.n_sensitive_values,
           tc.emd_bp,
           CAST(CASE WHEN kl.group_size >= 5
                      AND kl.n_sensitive_values >= 3
                      AND tc.emd_bp <= 2000
                     THEN 1 ELSE 0 END AS INTEGER) AS releasable
    FROM kl JOIN tc ON tc.segment = kl.segment AND tc.nation = kl.nation
    """


@query("privacy_release_gate", oracle=_release_gate_oracle())
def privacy_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy-release gate — the family capstone that a data-
    release pipeline actually runs: every quasi-identifier cell must
    simultaneously pass k-anonymity (≥5 members), l-diversity (≥3
    distinct sensitive brackets), and t-closeness (sensitive
    distribution within 0.2 EMD of the population) before its rows may
    ship. One verdict row per (segment, nation) cell with the three
    evidence columns and the boolean-as-integer release flag; the
    suppress/generalize remediation joins against the zero rows.

    Composition: the t-closeness leg embeds the REGISTERED spec
    verbatim (Spark side calls the registered query function, the
    oracle embeds its SQL — the pipeline_full_release device), and the
    k/l legs are the unfiltered forms of their audit queries at the
    same grain. All-integer evidence; the verdict is three integer
    compares.
    """
    tc = dq_t_closeness_audit(spark, sf_dir).select(
        "segment", "nation", "emd_bp"
    )
    kl = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(load(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("group_size"),
            F.countDistinct(
                F.least(
                    F.floor(F.greatest(F.col("c_acctbal"), F.lit(0)) / 2000).cast(
                        "bigint"
                    ),
                    F.lit(4),
                )
            )
            .cast("bigint")
            .alias("n_sensitive_values"),
        )
    )
    return kl.join(tc, ["segment", "nation"]).select(
        "segment",
        "nation",
        "group_size",
        "n_sensitive_values",
        "emd_bp",
        F.expr(
            "CAST(CASE WHEN group_size >= 5 AND n_sensitive_values >= 3"
            " AND emd_bp <= 2000 THEN 1 ELSE 0 END AS INT)"
        ).alias("releasable"),
    )


def _priority_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals in integer cents collapsed to the (prio, cents)
    grain with their multiplicity cnt."""
    return (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderpriority").alias("prio"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
        .groupBy("prio", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _priority_cents_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (prio, cents, cnt) grain with each value's ties-inclusive
    cumulative count cum_incl and the priority's size n_g: the exact
    order-statistic index of every collapsed value."""
    return _priority_cents(spark, sf_dir).select(
        "prio",
        "cents",
        "cnt",
        F.sum("cnt").over(Window.partitionBy("prio").orderBy("cents")).alias(
            "cum_incl"
        ),
        F.sum("cnt").over(Window.partitionBy("prio")).alias("n_g"),
    )


@query(
    "agg_percentile_cont_exact",
    oracle="""
    WITH g1 AS (
        SELECT o_orderpriority AS prio,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    w AS (
        SELECT prio, cents, cnt,
               sum(cnt) OVER (PARTITION BY prio ORDER BY cents) AS cum_incl,
               sum(cnt) OVER (PARTITION BY prio) AS n_g
        FROM g1
    ),
    picks AS (
        SELECT prio, n_g,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 50) // 100 + 1
                        THEN cents END) OVER (PARTITION BY prio) AS lo50,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 50) // 100 + 2
                        THEN cents END) OVER (PARTITION BY prio) AS hi50,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 90) // 100 + 1
                        THEN cents END) OVER (PARTITION BY prio) AS lo90,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 90) // 100 + 2
                        THEN cents END) OVER (PARTITION BY prio) AS hi90,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 99) // 100 + 1
                        THEN cents END) OVER (PARTITION BY prio) AS lo99,
               min(CASE WHEN cum_incl >= ((n_g - 1) * 99) // 100 + 2
                        THEN cents END) OVER (PARTITION BY prio) AS hi99
        FROM w
    )
    SELECT prio AS o_orderpriority,
           CAST(max(n_g) AS BIGINT) AS n_orders,
           CAST(max(lo50 * 1000000 + (coalesce(hi50, lo50) - lo50)
                    * (((n_g - 1) * 50) % 100) * 10000) AS BIGINT)
               AS p50_microcents,
           CAST(max(lo90 * 1000000 + (coalesce(hi90, lo90) - lo90)
                    * (((n_g - 1) * 90) % 100) * 10000) AS BIGINT)
               AS p90_microcents,
           CAST(max(lo99 * 1000000 + (coalesce(hi99, lo99) - lo99)
                    * (((n_g - 1) * 99) % 100) * 10000) AS BIGINT)
               AS p99_microcents
    FROM picks GROUP BY 1
    """,
)
def agg_percentile_cont_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linearly-interpolated percentiles (the percentile_cont /
    type-7 quantile every BI tool reports) per order priority, with the
    interpolation carried in INTEGER micro-cents — no float quantile
    anywhere. agg_percentile_disc_prices picks elements and
    agg_approx_percentiles bounds sketch error; this closes the family
    with the interpolated definition made cross-engine exact: at
    position pos=(n-1)p/100, the fraction is a RATIONAL with
    denominator 100, so value = lo + (hi-lo)*frac is exactly
    lo*1e6 + (hi-lo)*(pos%100)*1e4 micro-cents — BIGINT arithmetic
    both engines (never DuckDB's quantile_cont double path).

    Device: collapse to the (priority, cents) grain, ties-inclusive
    RANGE cumulative locates the two bracketing ELEMENTS per target
    rank (conditional-min full-partition windows — six picks share the
    one per-priority sort); hi falls back to lo only when frac=0 at
    the top rank (coalesce guards the NULL). Integer headroom:
    cents*1e6 ~ 6e13.

    100 TB plan: windows run on the domain-bounded collapsed grain
    partitioned BY priority (no global sort — contrast the single-
    sequence exact-median device in quantile_bucket_localized_exact);
    one hash collapse + one 5-row reduce.
    """
    g1 = _priority_cents(spark, sf_dir)
    word = Window.partitionBy("prio").orderBy("cents")
    wprio = Window.partitionBy("prio")
    w = g1.select(
        "prio",
        "cents",
        "cnt",
        F.sum("cnt").over(word).alias("cum_incl"),
        F.sum("cnt").over(wprio).alias("n_g"),
    )

    def pick(p: int, bound: int, alias: str):
        return F.min(
            F.expr(
                f"CASE WHEN cum_incl >= ((n_g - 1) * {p}) DIV 100 + {bound}"
                " THEN cents END"
            )
        ).over(wprio).alias(alias)

    picks = w.select(
        "prio",
        "n_g",
        pick(50, 1, "lo50"),
        pick(50, 2, "hi50"),
        pick(90, 1, "lo90"),
        pick(90, 2, "hi90"),
        pick(99, 1, "lo99"),
        pick(99, 2, "hi99"),
    )

    def interp(p: int) -> str:
        return (
            f"CAST(max(lo{p} * 1000000 + (coalesce(hi{p}, lo{p}) - lo{p})"
            f" * (((n_g - 1) * {p}) % 100) * 10000) AS BIGINT)"
        )

    return picks.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.max("n_g").cast("bigint").alias("n_orders"),
        F.expr(interp(50)).alias("p50_microcents"),
        F.expr(interp(90)).alias("p90_microcents"),
        F.expr(interp(99)).alias("p99_microcents"),
    )


# DDSketch bucketing constants: gamma = 1.02 (2% relative accuracy).
# DD_LG is floor(ln(gamma)*1e12 + 0.5) PRECOMPUTED as a literal so both
# engines bucket with the identical integer — an in-engine ln(1.02)
# could differ by 1 ulp and shift every boundary. The per-row
# ln(cents) IS computed in-engine: its 12dp-scaled floor can differ by
# 1 between engines on ~0.4% of rows, but that changes the DIV bucket
# only when lx lands exactly on a multiple of DD_LG (~5e-14/row) — the
# playbook's scaled-ln integer-ops device.
DD_LG = 19_802_627_296
_DD_BUCKET = f"CAST(floor(ln(CAST(cents AS DOUBLE)) * 1e12 + 0.5) AS BIGINT) DIV {DD_LG}"
_DD_EST = (
    f"CAST(floor(exp((CAST(b{{q}} AS DOUBLE) + 0.5) * ({DD_LG} * 1e-12))"
    " * 100 + 0.5) AS BIGINT)"
)
_DD_ERR = (
    "CAST(floor(abs(CAST(est{q}_e2 AS DOUBLE) / 100"
    " - CAST(exact{q} AS DOUBLE)) / CAST(exact{q} AS DOUBLE)"
    " * 1e4 + 0.5) AS BIGINT)"
)


def _dd_oracle() -> str:
    picks_sk, picks_ex, est_cols, out_cols = [], [], [], []
    for q in (50, 95, 99):
        picks_sk.append(
            f"min(CASE WHEN cum >= (n - 1) * {q} // 100 + 1 THEN b END) AS b{q}"
        )
        picks_ex.append(
            f"min(CASE WHEN cum >= (n - 1) * {q} // 100 + 1 THEN cents END)"
            f" AS exact{q}"
        )
        est_cols.append(_DD_EST.format(q=q) + f" AS est{q}_e2")
        out_cols.append(
            f"b{q} AS bucket_p{q}, est{q}_e2 AS est_p{q}_e2,"
            f" exact{q} AS exact_p{q}_cents,"
            f" {_DD_ERR.format(q=q)} AS rel_err_p{q}_bp"
        )
    return f"""
    WITH base AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    hist AS (
        SELECT {_DD_BUCKET.replace('DIV', '//')} AS b, count(*) AS cnt
        FROM base GROUP BY 1
    ),
    hcum AS (
        SELECT b, cnt,
               sum(cnt) OVER (ORDER BY b) AS cum,
               sum(cnt) OVER () AS n
        FROM hist
    ),
    sk AS (
        SELECT CAST(max(n) AS BIGINT) AS n_values,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(max(cnt) AS BIGINT) AS max_bucket_count,
               {', '.join(picks_sk)}
        FROM hcum
    ),
    vgrain AS (
        SELECT cents, count(*) AS cnt FROM base GROUP BY 1
    ),
    vcum AS (
        SELECT cents,
               sum(cnt) OVER (ORDER BY cents) AS cum,
               sum(cnt) OVER () AS n
        FROM vgrain
    ),
    ex AS (
        SELECT {', '.join(picks_ex)} FROM vcum
    ),
    staged AS (
        SELECT sk.*, ex.*, {', '.join(est_cols)} FROM sk, ex
    )
    SELECT n_values, n_buckets, max_bucket_count,
           {', '.join(out_cols)}
    FROM staged
    """


@query("sketch_ddsketch_quantiles", oracle=_dd_oracle())
def sketch_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style relative-error quantiles (Masson et al., VLDB'19)
    over order totals: log-bucket the values (gamma=1.02 -> guaranteed
    2% relative error), take quantiles from the bounded bucket
    histogram, and AUDIT the estimates against the exact rank-picked
    elements — the audit columns are the sketch's contract made
    checkable (rel_err <= ~200 bp by construction). Completes the
    sketch family's quantile cell: KMV/HLL do distinct, CMS/Misra-Gries
    do frequency, equi-depth does fixed buckets; DDSketch is the
    mergeable quantile structure a 1000-executor scan would combine.

    Exactness: bucket = floor(ln(cents)*1e12 + 0.5) DIV ln(gamma)-
    scaled-literal — the ln is in-engine but a 1-ulp disagreement
    changes the bucket only on an exact DD_LG multiple (~5e-14/row);
    the gamma constant is a PRECOMPUTED integer literal, never an
    in-engine ln. Quantile picks are conditional-min windows on the
    ties-inclusive cumulative (the percentile_cont device); the
    geometric-midpoint estimate exp((b+0.5)·ln gamma) is a shared-
    verbatim IEEE tree over the integer bucket (flip risk ~1e-6 at the
    e2 grain — measure-zero regime).

    100 TB plan: one scan -> ~900-bucket hash collapse (map-side
    partials — this is the whole point of the sketch: fixed-size state
    per executor); the exact-quantile audit leg collapses to the cents
    domain grain. Windows run on collapsed grains only; one 1-row
    combine at the end.
    """
    base = load(spark, sf_dir, "orders").select(
        exact_cents(F.col("o_totalprice")).alias("cents")
    )
    hist = base.select(F.expr(_DD_BUCKET).alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    hcum = hist.select(
        "b",
        "cnt",
        F.sum("cnt").over(Window.orderBy("b")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    sk_aggs = [
        F.max("n").cast("bigint").alias("n_values"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("cnt").cast("bigint").alias("max_bucket_count"),
    ]
    for q in (50, 95, 99):
        sk_aggs.append(
            F.min(
                F.expr(f"CASE WHEN cum >= (n - 1) * {q} DIV 100 + 1 THEN b END")
            ).alias(f"b{q}")
        )
    sk = hcum.agg(*sk_aggs)
    vgrain = base.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    vcum = vgrain.select(
        "cents",
        F.sum("cnt").over(Window.orderBy("cents")).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    ex = vcum.agg(
        *[
            F.min(
                F.expr(
                    f"CASE WHEN cum >= (n - 1) * {q} DIV 100 + 1 THEN cents END"
                )
            ).alias(f"exact{q}")
            for q in (50, 95, 99)
        ]
    )
    staged = sk.crossJoin(F.broadcast(ex)).select(
        "*", *[F.expr(_DD_EST.format(q=q)).alias(f"est{q}_e2") for q in (50, 95, 99)]
    )
    out = ["n_values", "n_buckets", "max_bucket_count"]
    sel = [F.col(c) for c in out]
    for q in (50, 95, 99):
        sel += [
            F.col(f"b{q}").alias(f"bucket_p{q}"),
            F.col(f"est{q}_e2").alias(f"est_p{q}_e2"),
            F.col(f"exact{q}").alias(f"exact_p{q}_cents"),
            F.expr(_DD_ERR.format(q=q)).alias(f"rel_err_p{q}_bp"),
        ]
    return staged.select(*sel)


# Composition trees shared VERBATIM Spark/oracle: k is the only input
# (exact integer), eps=0.1 and delta=1e-6 are decimal-literal-free
# double constants (0.1 parses to the same double both engines; the
# in-engine ln(1e6)/exp(0.1) are single libm terms whose 1-ulp
# disagreement is ~1e-9 of the 1e-6 report quantum).
_PB_BASIC = "CAST(k AS BIGINT) * 100000"
_PB_ADV = (
    "CAST(floor((0.1 * sqrt(2.0 * CAST(k AS DOUBLE) * ln(1e6))"
    " + CAST(k AS DOUBLE) * 0.1 * (exp(0.1) - 1.0)) * 1e6 + 0.5) AS BIGINT)"
)
_PB_ZCDP = (
    "CAST(floor((CAST(k AS DOUBLE) * 0.005"
    " + 2.0 * sqrt(CAST(k AS DOUBLE) * 0.005 * ln(1e6))) * 1e6 + 0.5)"
    " AS BIGINT)"
)


@query(
    "privacy_budget_composition",
    oracle=f"""
    WITH rel AS (
        SELECT event_type,
               CAST(count(DISTINCT date_trunc('month', ts)) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    staged AS (
        SELECT event_type, k,
               {_PB_BASIC} AS eps_basic_e6,
               {_PB_ADV} AS eps_advanced_e6,
               {_PB_ZCDP} AS eps_zcdp_e6
        FROM rel
    )
    SELECT event_type, k AS k_releases,
           eps_basic_e6, eps_advanced_e6, eps_zcdp_e6,
           CASE WHEN eps_basic_e6 <= eps_advanced_e6
                     AND eps_basic_e6 <= eps_zcdp_e6 THEN 'basic'
                WHEN eps_advanced_e6 <= eps_zcdp_e6 THEN 'advanced'
                ELSE 'zcdp' END AS tightest_bound
    FROM staged
    """,
)
def privacy_budget_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy BUDGET ACCOUNTING over a release log: each
    event type publishes one epsilon=0.1 mechanism per calendar month
    (k = months released), and the accountant reports the total
    epsilon under the three standard composition theorems — basic
    (k·eps), advanced (Dwork-Rothblum-Vadhan: eps·sqrt(2k·ln(1/δ)) +
    k·eps·(e^eps - 1), delta=1e-6), and the zCDP route (rho = k·eps²/2,
    eps = rho + 2·sqrt(rho·ln(1/δ))) — plus which bound is tightest at
    each k. The operational gate that closes the privacy family:
    k-anonymity/l-diversity/t-closeness say WHAT may release (see
    privacy_release_gate); composition says HOW MANY TIMES before the
    budget is spent.

    Exactness: k is the only data input (exact BIGINT); each bound is
    one shared-verbatim IEEE tree over k with 0.1/0.005 double
    constants, reported at 1e-6 grain via floor(x*1e6+0.5); basic
    composition is pure integer (k·1e5 micro-eps).

    100 TB plan: map-side month-distinct per type (bounded grain:
    type x calendar), then per-row scalar trees — no joins, no
    windows, no data-sized shuffle.
    """
    rel = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct(F.date_trunc("month", F.col("ts")))
            .cast("bigint")
            .alias("k")
        )
    )
    staged = rel.select(
        "event_type",
        "k",
        F.expr(_PB_BASIC).alias("eps_basic_e6"),
        F.expr(_PB_ADV).alias("eps_advanced_e6"),
        F.expr(_PB_ZCDP).alias("eps_zcdp_e6"),
    )
    return staged.select(
        "event_type",
        F.col("k").alias("k_releases"),
        "eps_basic_e6",
        "eps_advanced_e6",
        "eps_zcdp_e6",
        F.expr(
            "CASE WHEN eps_basic_e6 <= eps_advanced_e6"
            " AND eps_basic_e6 <= eps_zcdp_e6 THEN 'basic'"
            " WHEN eps_advanced_e6 <= eps_zcdp_e6 THEN 'advanced'"
            " ELSE 'zcdp' END"
        ).alias("tightest_bound"),
    )


# Jarque-Bera trees over the staged double moments (shared verbatim).
# nullif m2 powers (r10): m2 = 0 for a constant/single-row slice —
# Spark ANSI raises, DuckDB yields NULL; shared verbatim, so both
# engines stay identical (no-op whenever the slice has variance).
_JB_STAT = (
    "CAST(n AS DOUBLE) / 6.0 * (m3 * m3 / nullif(m2 * m2 * m2, 0)"
    " + (m4 / nullif(m2 * m2, 0) - 3.0)"
    " * (m4 / nullif(m2 * m2, 0) - 3.0) / 4.0)"
)
_JB_CRIT_5PCT = "5.991464547107979"  # chi2(2) 95th percentile


@query(
    "eval_jarque_bera_normality",
    oracle=f"""
    WITH c AS (
        SELECT event_type,
               CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    shifted AS (
        SELECT event_type, cents,
               cents - (sum(cents) OVER (PARTITION BY event_type)
                        // count(*) OVER (PARTITION BY event_type)) AS d
        FROM c
    ),
    sums AS (
        SELECT event_type,
               count(*) AS n,
               CAST(sum(d) AS BIGINT) AS s1,
               CAST(sum(d * d) AS BIGINT) AS s2,
               CAST(sum(CAST(d AS DECIMAL(38,0)) * d * d) AS DECIMAL(38,0)) AS s3,
               CAST(sum(CAST(d AS DECIMAL(38,0)) * d * d * d) AS DECIMAL(38,0)) AS s4
        FROM shifted GROUP BY 1
    ),
    mom AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n AS m1,
               CAST(s2 AS DOUBLE) / n AS r2,
               {sql_d53("s3")} / n AS r3,
               {sql_d53("s4")} / n AS r4
        FROM sums
    ),
    cm AS (
        SELECT event_type, n, m1,
               r2 - m1 * m1 AS m2,
               r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1 AS m3,
               r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2
                  - 3 * m1 * m1 * m1 * m1 AS m4
        FROM mom
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           CAST(floor({_JB_STAT} * 100 + 0.5) AS BIGINT) AS jb_e2,
           CAST(CASE WHEN {_JB_STAT} > {_JB_CRIT_5PCT} THEN 1 ELSE 0 END
                AS INTEGER) AS reject_normal_5pct
    FROM cm
    """,
)
def eval_jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: the goodness-of-fit
    screen (JB = n/6·(S² + K²/4) on one chi²(2) df) that turns
    agg_skew_kurtosis_moments' raw fingerprints into a DECISION —
    'is this value distribution Gaussian enough for z-score
    thresholds?' — the question outlier_zscore_orders silently assumes
    away. Same centered-integer-moment device as the moments query
    (cites its docstring): shift by the per-group integer floor-mean,
    exact BIGINT/DECIMAL(38,0) power sums, then ONE shared-verbatim
    IEEE tree; the 5% decision compares the identical double against
    the chi²(2) critical literal, so the flag can never disagree
    cross-engine. Report at e2 grain via floor(x*100+0.5).

    100 TB plan: identical to agg_skew_kurtosis_moments — one window +
    groupBy sharing the event_type partitioning, map-side arithmetic
    everywhere else.
    """
    shifted = _event_value_deviations(spark, sf_dir)
    sums = shifted.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").cast("bigint").alias("s1"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("s2"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d * d"))
        .cast("decimal(38,0)")
        .alias("s3"),
        F.sum(F.expr("CAST(d AS DECIMAL(38,0)) * d * d * d"))
        .cast("decimal(38,0)")
        .alias("s4"),
    )
    mom = sums.select(
        "event_type",
        "n",
        F.expr("CAST(s1 AS DOUBLE) / n").alias("m1"),
        F.expr("CAST(s2 AS DOUBLE) / n").alias("r2"),
        F.expr(d53("s3") + " / n").alias("r3"),
        F.expr(d53("s4") + " / n").alias("r4"),
    )
    cm = mom.select(
        "event_type",
        "n",
        "m1",
        F.expr("r2 - m1 * m1").alias("m2"),
        F.expr("r3 - 3 * m1 * r2 + 2 * m1 * m1 * m1").alias("m3"),
        F.expr(
            "r4 - 4 * m1 * r3 + 6 * m1 * m1 * r2 - 3 * m1 * m1 * m1 * m1"
        ).alias("m4"),
    )
    return cm.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.expr(f"CAST(floor({_JB_STAT} * 100 + 0.5) AS BIGINT)").alias("jb_e2"),
        F.expr(
            f"CAST(CASE WHEN {_JB_STAT} > {_JB_CRIT_5PCT} THEN 1 ELSE 0 END"
            " AS INTEGER)"
        ).alias("reject_normal_5pct"),
    )


# Order-statistic ranks for a distribution-free 95% median CI: the
# classic normal approximation lo = floor((n - 1.96*sqrt(n))/2),
# hi = ceil(1 + (n + 1.96*sqrt(n))/2) — one shared sqrt tree each, so
# both engines pick the same RANKS, then the values are rank-picked
# ELEMENTS (never interpolated).
_MCI_LO = "CAST(floor((CAST(n_g AS DOUBLE) - 1.959963984540054 * sqrt(CAST(n_g AS DOUBLE))) / 2.0) AS BIGINT)"
_MCI_HI = "CAST(ceil(1.0 + (CAST(n_g AS DOUBLE) + 1.959963984540054 * sqrt(CAST(n_g AS DOUBLE))) / 2.0) AS BIGINT)"


@query(
    "agg_median_ci_order_statistic",
    oracle=f"""
    WITH g1 AS (
        SELECT o_orderpriority AS prio,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    w AS (
        SELECT prio, cents, cnt,
               sum(cnt) OVER (PARTITION BY prio ORDER BY cents) AS cum_incl,
               sum(cnt) OVER (PARTITION BY prio) AS n_g
        FROM g1
    ),
    ranks AS (
        SELECT prio, cents, cum_incl, n_g,
               {_MCI_LO} AS lo_rank,
               {_MCI_HI} AS hi_rank
        FROM w
    )
    SELECT prio AS o_orderpriority,
           CAST(max(n_g) AS BIGINT) AS n_orders,
           CAST(max(lo_rank) AS BIGINT) AS lo_rank,
           CAST(max(hi_rank) AS BIGINT) AS hi_rank,
           min(CASE WHEN cum_incl >= (n_g + 1) // 2 THEN cents END)
               AS median_cents,
           min(CASE WHEN cum_incl >= lo_rank THEN cents END) AS ci_lo_cents,
           min(CASE WHEN cum_incl >= hi_rank THEN cents END) AS ci_hi_cents
    FROM ranks GROUP BY 1
    """,
)
def agg_median_ci_order_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN order
    value per priority, by the order-statistic (sign-test inversion)
    method: the CI endpoints are the sample elements at ranks
    (n ± 1.96·sqrt(n))/2 — no normality assumption, no resampling
    (contrast bootstrap_poisson_ci_mean, which resamples for the
    MEAN). The report a dashboard needs next to any median: how much
    of the gap between two groups' medians is noise?

    Exactness: the ranks come from one shared sqrt tree each (floor/
    ceil of identical doubles), so both engines pick the same INTEGER
    ranks; the endpoints are then rank-picked ELEMENTS via
    conditional-min windows on the ties-inclusive cumulative — the
    percentile_cont device with data-derived ranks. All output exact.

    100 TB plan: one (priority, cents) hash collapse; windows on the
    domain-bounded grain share the per-priority sort; 5-row reduce.
    """
    w = _priority_cents_cum(spark, sf_dir)
    ranks = w.select(
        "prio",
        "cents",
        "cum_incl",
        "n_g",
        F.expr(_MCI_LO).alias("lo_rank"),
        F.expr(_MCI_HI).alias("hi_rank"),
    )
    return ranks.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.max("n_g").cast("bigint").alias("n_orders"),
        F.max("lo_rank").cast("bigint").alias("lo_rank"),
        F.max("hi_rank").cast("bigint").alias("hi_rank"),
        F.min(
            F.expr("CASE WHEN cum_incl >= (n_g + 1) DIV 2 THEN cents END")
        ).alias("median_cents"),
        F.min(F.expr("CASE WHEN cum_incl >= lo_rank THEN cents END")).alias(
            "ci_lo_cents"
        ),
        F.min(F.expr("CASE WHEN cum_incl >= hi_rank THEN cents END")).alias(
            "ci_hi_cents"
        ),
    )


# 120 monthly discount factors at 1%/month, precomputed as double
# LITERALS in E-NOTATION: a plain decimal-point literal parses as
# DECIMAL in both engines, and DuckDB's DECIMAL(18,17) -> DOUBLE
# conversion DOUBLE-ROUNDS (int128 then /1e17) while Spark's BigDecimal
# cast rounds once — a 1-ulp factor spread that flipped floor() at
# sf0.01 volume. Exponent notation is an approximate literal -> parsed
# straight to the same DOUBLE in both engines; 17 sig digits
# round-trips exactly. No libm pow in any engine's data path.
NPV_MONTHLY_RATE = 1.01
_NPV_FACTOR_LITS = ", ".join(
    format(1.0 / NPV_MONTHLY_RATE**t, ".17e") for t in range(120)
)
_NPV_TERM_SPARK = (
    "CAST(floor(CAST(v_micro AS DOUBLE)"
    f" * element_at(array({_NPV_FACTOR_LITS}), CAST(t + 1 AS INT))"
    " + 0.5) AS BIGINT)"
)
_NPV_TERM_SQL = (
    "CAST(floor(CAST(v_micro AS DOUBLE)"
    f" * ([{_NPV_FACTOR_LITS}])[CAST(t + 1 AS INT)]"
    " + 0.5) AS BIGINT)"
)


@query(
    "finance_npv_monthly_cashflows",
    oracle=f"""
    WITH cell AS (
        SELECT p.p_brand AS brand,
               date_trunc('month', o.o_orderdate) AS mon,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(25,6))) * 1000000 AS BIGINT)
                   AS v_micro
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderdate IS NOT NULL
        GROUP BY 1, 2
    ),
    idx AS (
        SELECT brand, v_micro,
               (year(mon) * 12 + month(mon))
                 - min(year(mon) * 12 + month(mon)) OVER () AS t
        FROM cell
    ),
    terms AS (
        SELECT brand, v_micro, t, {_NPV_TERM_SQL} AS term
        FROM idx
    )
    SELECT brand AS p_brand,
           CAST(count(*) AS BIGINT) AS n_months,
           CAST(sum(v_micro) AS BIGINT) AS total_micro,
           CAST(sum(term) AS BIGINT) AS npv_micro,
           CAST((2 * sum(term) + 1000000) // 2000000 AS BIGINT)
               AS npv_cents
    FROM terms GROUP BY 1
    """,
)
def finance_npv_monthly_cashflows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net present value of each part brand's monthly revenue stream,
    discounted at 1%/month back to the first traded month — the
    time-value lens the finance family lacked (FIFO COGS matches cost,
    AR aging buckets receivables, MRR tracks movement; NPV prices the
    STREAM). Brands whose revenue front-loads beat brands with the
    same total that earn late — total_micro vs npv_micro shows exactly
    that gap.

    Exactness device (new in the playbook): the 120 discount factors
    are PRECOMPUTED double literals (shortest round-trip repr), so both
    engines parse identical doubles and every cashflow x factor product
    is an identical IEEE value — floor(x + 0.5) can never disagree, no
    matter the quantum (contrast an in-engine pow/exp, whose 1-ulp
    spread WOULD flip floors at this volume). Cashflows are exact
    integer micro-units via the dsum decimal device; month index t is
    pure integer calendar arithmetic anchored at the global minimum.

    100 TB plan: one three-way keyed join + (brand, month) map-side
    collapse; the discount table ships as a 120-literal expression
    (zero data); windows only on the ~2100-row collapsed grid.
    """
    cell = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()).select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(l_extendedprice * (1 - l_discount)"
                " AS DECIMAL(25,6))) * 1000000 AS BIGINT)"
            ).alias("v_micro")
        )
    )
    idx = cell.select(
        "brand",
        "v_micro",
        (
            (F.year("mon") * 12 + F.month("mon"))
            - F.min(F.year("mon") * 12 + F.month("mon")).over(Window.partitionBy())
        ).alias("t"),
    )
    terms = idx.select("brand", "v_micro", "t", F.expr(_NPV_TERM_SPARK).alias("term"))
    return terms.groupBy(F.col("brand").alias("p_brand")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
        F.sum("v_micro").cast("bigint").alias("total_micro"),
        F.sum("term").cast("bigint").alias("npv_micro"),
        F.expr(
            "CAST((2 * sum(term) + 1000000) DIV 2000000 AS BIGINT)"
        ).alias("npv_cents"),
    )


TRIM_BP = 500  # trim 5% from each tail (in basis points of n)


@query(
    "agg_trimmed_mean_exact",
    oracle=f"""
    WITH g1 AS (
        SELECT o_orderpriority AS prio,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    w AS (
        SELECT prio, cents, cnt,
               sum(cnt) OVER (PARTITION BY prio ORDER BY cents) AS cum_incl,
               sum(cnt) OVER (PARTITION BY prio) AS n_g
        FROM g1
    ),
    clipped AS (
        SELECT prio, cents, n_g,
               -- ranks kept: (lo, hi] with lo = floor(n*trim), hi = n - lo
               greatest(least(cum_incl, n_g - (n_g * {TRIM_BP}) // 10000)
                        - greatest(cum_incl - cnt,
                                   (n_g * {TRIM_BP}) // 10000),
                        0) AS kept
        FROM w
    )
    SELECT prio AS o_orderpriority,
           CAST(max(n_g) AS BIGINT) AS n_orders,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST((2 * sum(kept * cents) + sum(kept)) // (2 * sum(kept))
                AS BIGINT) AS trimmed_mean_cents
    FROM clipped GROUP BY 1
    """,
)
def agg_trimmed_mean_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed mean of order value per priority — the robust
    location estimate between the mean (outlier-dragged) and the
    median (throws away 98% of the data): drop the lowest and highest
    5% BY RANK, average the rest. Complements winsorize_orders_by_
    segment, which CLAMPS the tails instead of dropping them.

    Device (all-integer, no per-row rank explosion): on the collapsed
    (priority, cents) grain, a value cell occupying ranks
    (cum_incl - cnt, cum_incl] contributes
    kept = max(0, min(cum_incl, hi) - max(cum_incl - cnt, lo))
    observations to the kept band (lo, hi] — interval clipping as
    integer arithmetic, so cells straddling a trim boundary contribute
    PARTIAL counts exactly. The trimmed mean is then a half-up integer
    quotient of exact sums. 100 TB plan: one hash collapse, per-group
    windows on the domain-bounded grain, 5-row reduce.
    """
    w = _priority_cents_cum(spark, sf_dir)
    clipped = w.select(
        "prio",
        "cents",
        "n_g",
        F.expr(
            f"greatest(least(cum_incl, n_g - (n_g * {TRIM_BP}) DIV 10000)"
            f" - greatest(cum_incl - cnt, (n_g * {TRIM_BP}) DIV 10000), 0)"
        ).alias("kept"),
    )
    return clipped.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.max("n_g").cast("bigint").alias("n_orders"),
        F.sum("kept").cast("bigint").alias("n_kept"),
        F.expr(
            "CAST((2 * sum(kept * cents) + sum(kept)) DIV (2 * sum(kept))"
            " AS BIGINT)"
        ).alias("trimmed_mean_cents"),
    )


@query(
    "agg_gini_mean_difference",
    oracle="""
    WITH g1 AS (
        SELECT o_orderpriority AS prio,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    w AS (
        SELECT prio, cents, cnt,
               sum(cnt) OVER (PARTITION BY prio ORDER BY cents) AS cum_incl,
               sum(cnt) OVER (PARTITION BY prio) AS n_g
        FROM g1
    ),
    terms AS (
        -- a cell of cnt equal values occupying ranks
        -- (cum_incl-cnt, cum_incl] contributes
        -- sum over its ranks i of (2i - n - 1) * cents:
        -- Σi = cnt*(2*cum_incl - cnt + 1)/2 (exact; 2Σi is integer)
        SELECT prio, n_g, cents, cnt,
               CAST(cents AS HUGEINT)
                   * (cnt * (2 * cum_incl - cnt + 1) - cnt * (n_g + 1))
                   AS t2
        FROM w
    )
    SELECT prio AS o_orderpriority,
           CAST(max(n_g) AS BIGINT) AS n_orders,
           CAST((4 * sum(t2) + max(n_g) * (max(n_g) - 1))
                // (2 * max(n_g) * (max(n_g) - 1)) AS BIGINT) AS gmd_cents,
           CAST((2 * 10000 * sum(t2)
                 + (max(n_g) - 1) * sum(CAST(cents AS HUGEINT) * cnt))
                // (2 * (max(n_g) - 1)
                    * sum(CAST(cents AS HUGEINT) * cnt)) AS BIGINT)
               AS rel_gini_bp
    FROM terms GROUP BY 1
    """,
)
def agg_gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference — E|X - X'|, the dispersion measure that
    needs no center (unlike sd) and no distribution (unlike IQR) —
    per order priority, with the relative Gini (GMD / (2·mean), the
    inequality coefficient) in basis points. The naive form is an
    O(n²) pairwise scan; the rank identity Σ_i (2i-n-1)·x_(i) makes it
    one sorted pass, and on the collapsed (priority, cents) grain a
    cell of cnt ties contributes its whole rank-run in closed form
    (Σ ranks = cnt·(2·cum_incl - cnt + 1)/2) — the trimmed-mean
    interval-clipping trick applied to rank WEIGHTS.

    Exactness: t2 = Σ(2i-n-1)x over the cell (= the ordered-pair gap
    sum T) is an exact integer
    (HUGEINT/DECIMAL products); GMD = 2T/(n(n-1)) and the relative form report as
    half-up integer quotients — no float anywhere.
    100 TB plan: one hash collapse, per-priority windows on the
    domain-bounded grain, 5-row reduce.
    """
    w = _priority_cents_cum(spark, sf_dir)
    terms = w.select(
        "prio",
        "n_g",
        "cents",
        "cnt",
        F.expr(
            "CAST(cents AS DECIMAL(38,0))"
            " * (cnt * (2 * cum_incl - cnt + 1) - cnt * (n_g + 1))"
        ).alias("t2"),
    )
    return terms.groupBy(F.col("prio").alias("o_orderpriority")).agg(
        F.max("n_g").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST((4 * sum(t2) + max(n_g) * (max(n_g) - 1))"
            " DIV nullif(2 * max(n_g) * (max(n_g) - 1), 0) AS BIGINT)"
        ).alias("gmd_cents"),
        F.expr(
            "CAST((2 * 10000 * sum(t2)"
            " + (max(n_g) - 1) * sum(CAST(cents AS DECIMAL(38,0)) * cnt))"
            " DIV nullif(2 * (max(n_g) - 1)"
            " * sum(CAST(cents AS DECIMAL(38,0)) * cnt), 0) AS BIGINT)"
        ).alias("rel_gini_bp"),
    )


# --- Theil inequality decomposition --------------------------------------

# Shared-verbatim ln trees (identical expression text in Spark and the
# DuckDB oracle -> identical IEEE doubles in, libm ln out pre-rounded to
# e12 integers before any cross-row sum — the playbook's ln-sum device).
_TH_LNW = (
    "CAST(floor(ln((CAST(x AS DOUBLE) * CAST(ng AS DOUBLE))"
    " / CAST(xg AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)"
)
_TH_LNT = (
    "CAST(floor(ln((CAST(x AS DOUBLE) * CAST(n_tot AS DOUBLE))"
    " / CAST(x_tot AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)"
)
_TH_LNB = (
    "CAST(floor(ln((CAST(xg AS DOUBLE) * CAST(n_tot AS DOUBLE))"
    " / (CAST(x_tot AS DOUBLE) * CAST(ng AS DOUBLE))) * 1e12 + 0.5)"
    " AS BIGINT)"
)
# e6 report: S / (den * 1e12) scaled to 1e6, floor(+0.5) quantizer on
# an identical product/division tree. r13: S (Σ x·ln_e12 terms, ~5e20
# at sf0.01) is past 2^53 and rides the per-engine d53 split; den
# (~1e12) stays a plain cast.
def _th_e6(s: str, den: str, cv=None) -> str:
    from leadsight_sales_agent_spark.functions.numeric import d53 as _d53

    conv = (cv or _d53)(s)
    return (
        f"CAST(floor({conv} / (CAST({den} AS DOUBLE) * 1e12)"
        " * 1e6 + 0.5) AS BIGINT)"
    )


@query(
    "agg_theil_inequality_decomposition",
    oracle=f"""
    WITH percust AS (
        SELECT o_custkey AS ck,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ), seged AS (
        SELECT c_mktsegment AS seg, x
        FROM percust JOIN customer ON c_custkey = ck
    ), g AS (
        SELECT seg, count(*) AS ng, CAST(sum(x) AS BIGINT) AS xg
        FROM seged GROUP BY seg
    ), tot AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n_tot,
               CAST(sum(xg) AS BIGINT) AS x_tot,
               count(*) AS n_groups
        FROM g
    ), rows_ AS (
        SELECT seg, x, ng, xg, n_tot, x_tot,
               {_TH_LNW} AS lnw, {_TH_LNT} AS lnt
        FROM seged JOIN g USING (seg) CROSS JOIN tot
    ), sums AS (
        SELECT seg,
               sum(CAST(x AS DECIMAL(38,0)) * lnw) AS s_g,
               sum(CAST(x AS DECIMAL(38,0)) * lnt) AS s_t
        FROM rows_ GROUP BY seg
    ), within AS (
        SELECT 'within:' || s.seg AS component,
               CAST(g.ng AS BIGINT) AS n_members,
               CAST((2 * g.xg * 10000 + t.x_tot) // (2 * t.x_tot) AS BIGINT)
                   AS income_share_bp,
               {_th_e6('s.s_g', 'g.xg', sql_d53)} AS theil_e6,
               {_th_e6('s.s_g', 't.x_tot', sql_d53)} AS contribution_e6
        FROM sums s JOIN g ON g.seg = s.seg CROSS JOIN tot t
    ), between_ AS (
        SELECT 'between' AS component,
               t.n_groups AS n_members,
               CAST(10000 AS BIGINT) AS income_share_bp,
               {_th_e6('sum(CAST(xg AS DECIMAL(38,0)) * ' + _TH_LNB + ')', 'max(t.x_tot)', sql_d53)}
                   AS theil_e6,
               {_th_e6('sum(CAST(xg AS DECIMAL(38,0)) * ' + _TH_LNB + ')', 'max(t.x_tot)', sql_d53)}
                   AS contribution_e6
        FROM g CROSS JOIN tot t
        GROUP BY t.n_groups
    ), total_ AS (
        SELECT 'total' AS component,
               t.n_tot AS n_members,
               CAST(10000 AS BIGINT) AS income_share_bp,
               {_th_e6('sum(s.s_t)', 'max(t.x_tot)', sql_d53)} AS theil_e6,
               {_th_e6('sum(s.s_t)', 'max(t.x_tot)', sql_d53)} AS contribution_e6
        FROM sums s CROSS JOIN tot t
        GROUP BY t.n_tot
    )
    SELECT * FROM within
    UNION ALL SELECT * FROM between_
    UNION ALL SELECT * FROM total_
    """,
)
def agg_theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue, DECOMPOSED into
    between-segment and within-segment components — the additive
    decomposition (T = T_between + sum_g share_g * T_g) that Gini
    famously lacks, and the reason Theil is the econometric tool for
    'how much of the concentration is explained by the grouping'.
    Complements agg_gini_mean_difference (dispersion) and the
    concentration/pareto queries (top-share) with the decomposable
    entropy measure.

    Exactness: incomes are exact integer cents; every ln term is
    pre-rounded to an e12 integer from a shared-verbatim IEEE tree
    (identical double in both engines, libm ln 1-ulp risk accepted at
    the e12 grain per the playbook), weighted by exact-cent DECIMAL
    products, and summed order-independently; the e6 report applies one
    identical floor quantizer to the scale-0-decimal->double ratio. The
    within/between/total legs are graded independently, and the
    additive identity is pinned in tests (exact in real math; rounding
    moves it by <=1e-6).

    100 TB: one shuffle to the customer grain, one to the 5-segment
    grain; group stats broadcast back onto the row grain (5-row join +
    1-row totals anchor); no window, no sort — the identical shape as
    the gini/moments family.
    """
    cents = exact_cents(F.col("o_totalprice"))
    percust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).cast("long").alias("x"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seged = percust.join(cust, percust.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "x"
    )
    g = seged.groupBy("seg").agg(
        F.count("*").alias("ng"), F.sum("x").cast("long").alias("xg")
    )
    tot = g.agg(
        F.sum("ng").cast("long").alias("n_tot"),
        F.sum("xg").cast("long").alias("x_tot"),
        F.count("*").alias("n_groups"),
    )
    rows = (
        seged.join(F.broadcast(g), "seg")
        .crossJoin(F.broadcast(tot))
        .withColumn("lnw", F.expr(_TH_LNW))
        .withColumn("lnt", F.expr(_TH_LNT))
    )
    sums = rows.groupBy("seg").agg(
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("lnw")).alias("s_g"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("lnt")).alias("s_t"),
    )
    # One 5-row stats frame carries everything the three output legs
    # need; localCheckpoint truncates its lineage so the heavy part of
    # the plan exists ONCE instead of once per union leg (the HITS
    # lineage device — without it the union re-derives the full
    # customer-grain pipeline 3x: 47 exchanges vs ~12).
    stats = (
        sums.join(F.broadcast(g), "seg")
        .crossJoin(F.broadcast(tot))
        # ckpt-grain: bounded — segment-grain stats row set (lineage-dedup device)
        .localCheckpoint(eager=False)
    )
    within = stats.select(
        F.concat(F.lit("within:"), F.col("seg")).alias("component"),
        F.col("ng").cast("bigint").alias("n_members"),
        F.expr(
            "CAST((2 * xg * 10000 + x_tot) DIV (2 * x_tot) AS BIGINT)"
        ).alias("income_share_bp"),
        F.expr(_th_e6("s_g", "xg")).alias("theil_e6"),
        F.expr(_th_e6("s_g", "x_tot")).alias("contribution_e6"),
    )
    between = (
        stats.groupBy("n_groups")
        .agg(
            F.expr(
                _th_e6(
                    "sum(CAST(xg AS DECIMAL(38,0)) * " + _TH_LNB + ")",
                    "max(x_tot)",
                )
            ).alias("theil_e6"),
        )
        .select(
            F.lit("between").alias("component"),
            F.col("n_groups").cast("bigint").alias("n_members"),
            F.lit(10000).cast("bigint").alias("income_share_bp"),
            "theil_e6",
            F.col("theil_e6").alias("contribution_e6"),
        )
    )
    total = (
        stats.groupBy("n_tot")
        .agg(F.expr(_th_e6("sum(s_t)", "max(x_tot)")).alias("theil_e6"))
        .select(
            F.lit("total").alias("component"),
            F.col("n_tot").cast("bigint").alias("n_members"),
            F.lit(10000).cast("bigint").alias("income_share_bp"),
            "theil_e6",
            F.col("theil_e6").alias("contribution_e6"),
        )
    )
    return within.unionAll(between).unionAll(total)


@query(
    "dq_wide_decimal_conversion_canary",
    oracle=f"""
    WITH c AS (
        SELECT o_orderpriority AS priority,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders WHERE o_totalprice IS NOT NULL
    ),
    sums AS (
        SELECT priority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2,
               CAST(sum(CAST(cents AS HUGEINT) * cents * cents) AS HUGEINT)
                   AS s3
        FROM c GROUP BY 1
    )
    SELECT priority, n AS n_orders, s1 AS sum_cents,
           {{S2D}} AS sumsq_double,
           {{S3D}} AS sumcube_double,
           CAST(floor(sqrt({{S2D}} / nullif(CAST(n AS DOUBLE), 0))
                      * 1e6 + 0.5) AS BIGINT) AS rms_micro
    FROM sums
    """.replace("{S2D}", sql_d53("s2")).replace("{S3D}", sql_d53("s3")),
)
def dq_wide_decimal_conversion_canary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permanent regression canary for the SURVEY §8.2 wide-decimal→
    double seam (r12 verdict task 7): per-priority sums of cents,
    cents², and cents³ deliberately straddle 2^53 (s2 ≈ 1e18, s3 ≈
    1e25 at sf0.01 — exactly the unscaled regime where the r12 driver
    diverged from local DuckDB on eval_anova_f_oneway et al.), and the
    report hashes the CONVERTED DOUBLES THEMSELVES, not merely
    integers derived from them — so any future engine/build whose
    int128→double path double-rounds fails THIS query's hash gate
    immediately and points at the conversion, not at whichever
    statistic consumed it. Both engines convert through the d53()
    split (functions/numeric.py), which is the class fix plan-lint
    rule R9 enforces repo-wide.

    Plan: one fact scan, one partial+final hash aggregate on a
    5-value key, 5-row report — nothing here scales superlinearly.
    """
    c = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderpriority").alias("priority"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    sums = c.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents"))
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum(
            F.col("cents").cast("decimal(38,0)")
            * F.col("cents")
            * F.col("cents")
        )
        .cast("decimal(38,0)")
        .alias("s3"),
    )
    return sums.select(
        "priority",
        F.col("n").alias("n_orders"),
        F.col("s1").alias("sum_cents"),
        F.expr(d53("s2")).alias("sumsq_double"),
        F.expr(d53("s3")).alias("sumcube_double"),
        F.expr(
            f"CAST(floor(sqrt({d53('s2')} / nullif(CAST(n AS DOUBLE), 0))"
            " * 1e6 + 0.5) AS BIGINT)"
        ).alias("rms_micro"),
    )
