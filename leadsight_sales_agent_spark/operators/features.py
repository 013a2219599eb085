"""Feature-engineering operators — the tabular-ML prep passes a
training pipeline runs after curation and before packing: target
encoding (with the leakage-safe leave-one-out form) and the
hashing-trick featurizer. All arithmetic is exact-integer so every
operator hash-checks cross-engine; the same discipline that makes
these reproducible across cluster layouts at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import exact_cents, sql_hex_to_long
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

TE_SMOOTH_M = 10  # pseudo-count weight of the global mean


@query(
    "feature_target_encoding_loo",
    oracle=f"""
    WITH base AS (
        SELECT o.o_orderkey AS orderkey, c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), seg AS (
        SELECT segment, count(*) AS n, CAST(sum(cents) AS BIGINT) AS s
        FROM base GROUP BY 1
    ), gstats AS (
        SELECT count(*) AS gn, CAST(sum(cents) AS BIGINT) AS gs FROM base
    )
    SELECT b.orderkey, b.segment, b.cents,
           CAST((2 * (seg.s - b.cents) + (seg.n - 1))
                // (2 * (seg.n - 1)) AS BIGINT) AS loo_cents,
           CAST((2 * ((seg.s - b.cents) * g.gn + {TE_SMOOTH_M} * g.gs)
                 + (seg.n - 1 + {TE_SMOOTH_M}) * g.gn)
                // (2 * (seg.n - 1 + {TE_SMOOTH_M}) * g.gn) AS BIGINT)
               AS smoothed_cents
    FROM base b JOIN seg ON b.segment = seg.segment CROSS JOIN gstats g
    """,
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer segment against
    order value — category → mean target WITHOUT the row's own target
    (the leakage-safe form: plain mean encoding lets each row see its
    own label), plus the m={TE_SMOOTH_M} smoothed variant that shrinks
    small categories toward the global mean. Every encoded value is a
    half-up integer-cent division; the smoothing keeps the rational
    global mean exact by cross-multiplying with the global count, so
    NO float appears anywhere and the encoding is bit-reproducible at
    any parallelism — the property that makes train-time and
    serve-time features provably identical.

    Plan: one aggregate to segment grain, one 1-row global aggregate,
    both broadcast back over the fact rows (the two-pass agg+broadcast
    device — never a per-row window over the whole segment). At
    100 TB: two scans collapse to one with a cached base; encoded
    output is map-side after the broadcasts.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("c_mktsegment").alias("segment"),
        exact_cents(F.col("o_totalprice")).alias("cents"),
    )
    seg = base.groupBy("segment").agg(
        F.count("*").alias("n"), F.sum("cents").cast("long").alias("s")
    )
    glob = base.agg(
        F.count("*").alias("gn"), F.sum("cents").cast("long").alias("gs")
    )
    return (
        base.join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(glob))
        .select(
            "orderkey",
            "segment",
            "cents",
            F.expr(
                "CAST((2 * (s - cents) + (n - 1)) DIV (2 * (n - 1)) AS BIGINT)"
            ).alias("loo_cents"),
            F.expr(
                f"CAST((2 * ((s - cents) * gn + {TE_SMOOTH_M} * gs)"
                f" + (n - 1 + {TE_SMOOTH_M}) * gn)"
                f" DIV (2 * (n - 1 + {TE_SMOOTH_M}) * gn) AS BIGINT)"
            ).alias("smoothed_cents"),
        )
    )


FH_DIMS = 64  # hashed feature space size


@query(
    "feature_hashing_trick",
    oracle=f"""
    WITH feats AS (
        SELECT 'segment=' || c.c_mktsegment AS feat
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'priority=' || o_orderpriority AS feat FROM orders
    )
    SELECT {sql_hex_to_long("substr(md5('fh:' || feat), 1, 4)", 4)} % {FH_DIMS}
               AS dim,
           count(*) AS n_rows,
           count(DISTINCT feat) AS n_features
    FROM feats GROUP BY 1
    """,
)
def feature_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing-trick featurizer (Weinberger et al., ICML'09):
    categorical feature=value strings hash straight into a fixed
    {FH_DIMS}-dim index — no vocabulary table, no fit step, unbounded
    cardinality handled in O(1) state — with per-dimension occupancy
    and COLLISION accounting (n_features > 1 = two raw features
    sharing a slot), the report that sizes the feature space. Hashing
    uses the engines' shared md5 hex-to-long device, so the dimension
    assignment is identical everywhere — train/serve skew impossible.
    One union of projections + one hash aggregate; map-side partial,
    no vocabulary broadcast, which is the whole point vs. one-hot at
    100 TB.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    seg = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.concat(F.lit("segment="), F.col("c_mktsegment")).alias("feat"))
    )
    pri = o.select(F.concat(F.lit("priority="), F.col("o_orderpriority")).alias("feat"))
    feats = seg.unionAll(pri).withColumn(
        "hx", F.substring(F.md5(F.concat(F.lit("fh:"), F.col("feat"))), 1, 4)
    )
    return (
        feats.withColumn("dim", F.expr(sql_hex_to_long("hx", 4)) % FH_DIMS)
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("feat").alias("n_features"),
        )
    )


@query(
    "feature_woe_iv",
    oracle="""
    WITH cat AS (
        SELECT o_orderpriority AS category,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS pos,
               count(*) FILTER (WHERE o_orderstatus <> 'F') AS neg
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT sum(pos) AS pt, sum(neg) AS nt FROM cat
    )
    SELECT c.category, c.pos, c.neg,
           round(ln((CAST(c.pos AS DOUBLE) / t.pt)
                    / (CAST(c.neg AS DOUBLE) / t.nt)), 4) AS woe,
           round((CAST(c.pos AS DOUBLE) / t.pt - CAST(c.neg AS DOUBLE) / t.nt)
                 * ln((CAST(c.pos AS DOUBLE) / t.pt)
                      / (CAST(c.neg AS DOUBLE) / t.nt)), 4) AS iv_term
    FROM cat c CROSS JOIN tot t
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value per category — the
    credit-scoring/feature-selection measure of a categorical's
    predictive power against a binary outcome (here: does order
    priority separate fulfilled from open/pending orders?). WoE =
    ln(pos_share/neg_share); IV = Σ (pos_share − neg_share)·WoE,
    shipped as per-category terms so any regrouping can re-sum it
    (IV < 0.02 = useless, > 0.3 = strong — the screening thresholds).

    Same exactness regime as drift_psi_event_mix: shares are
    exact-integer divisions (deterministic doubles), ln() may differ
    by 1 ulp between libm and Java Math.log, so ln-derived outputs
    round at 4 decimals, far above ulp noise; raw counts ride along
    unrounded. One conditional-count scan + a 1-row broadcast —
    map-side partial, no second pass.
    """
    o = load(spark, sf_dir, "orders")
    cat = o.groupBy(F.col("o_orderpriority").alias("category")).agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("pos"),
        F.count_if(F.col("o_orderstatus") != "F").alias("neg"),
    )
    tot = cat.agg(F.sum("pos").alias("pt"), F.sum("neg").alias("nt"))
    # nullif guards (r10): a slice with no positives (pt = 0) or no
    # negatives (nt = 0, or a zero neg share feeding the ratio) raises
    # under Spark ANSI where DuckDB yields NULL.
    ps = F.col("pos").cast("double") / F.nullif(F.col("pt"), F.lit(0))
    ns = F.col("neg").cast("double") / F.nullif(F.col("nt"), F.lit(0))
    return cat.crossJoin(F.broadcast(tot)).select(
        "category",
        "pos",
        "neg",
        F.round(F.log(ps / F.nullif(ns, F.lit(0.0))), 4).alias("woe"),
        F.round(
            (ps - ns) * F.log(ps / F.nullif(ns, F.lit(0.0))), 4
        ).alias("iv_term"),
    )
