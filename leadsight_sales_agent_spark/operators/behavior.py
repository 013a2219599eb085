"""Behavioral / event analytics over ``events`` and ``orders`` —
ordered funnel, weekly cohort retention, per-segment outliers.

The reference's event stream (server.py:69-75: start → company_start →
step → company_done → done) IS a funnel over a progress log; these
operators generalize that shape to the product-analytics queries every
event warehouse runs. All are pure DataFrame plans: conditional
aggregation, week truncation, and two-pass moment statistics — no UDFs,
no windows over unbounded partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import (
    ddbl,
    d53,
    d53s,
    exact_cents,
    finite,
    is_finite,
    q_scaled_halfup,
    sql_d53,
    sql_d53s,
    sql_q_scaled_halfup,
    sql_wsplit15_hi,
    sql_wsplit15_lo,
    wsplit15_hi,
    wsplit15_lo,
)
from leadsight_sales_agent_spark.operators.sampling import _SQL_HASH, hash_key
from leadsight_sales_agent_spark.operators.windows import order_cents_rollup, order_month
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_fold(evs_col: str = "evs"):
    """The funnel's single-pass fold over a sorted (ts, event_type)
    array: returns a struct column (t1..t4) of first-qualifying stage
    timestamps. Module-level so the differential tests exercise the
    EXACT production expression rather than a copy that can drift.

    A stage advances only on an event strictly AFTER the prior stage's
    timestamp (`ts >`, not sort order): an event tied to the previous
    stage must not advance the funnel, matching the oracle's
    `e.ts > s.t1`.
    """
    no_ts = F.lit(None).cast("timestamp")
    state0 = F.struct(
        no_ts.alias("t1"), no_ts.alias("t2"), no_ts.alias("t3"), no_ts.alias("t4")
    )

    def step(acc, e):
        def advance(slot_ts, prev_ts, stage):
            cond = (
                slot_ts.isNull()
                & (e["event_type"] == stage)
                & (
                    (prev_ts.isNotNull() & (e["ts"] > prev_ts))
                    if stage != "signup"
                    else F.lit(True)
                )
            )
            return F.when(cond, e["ts"]).otherwise(slot_ts)

        return F.struct(
            advance(acc["t1"], None, "signup").alias("t1"),
            advance(acc["t2"], acc["t1"], "view").alias("t2"),
            advance(acc["t3"], acc["t2"], "click").alias("t3"),
            advance(acc["t4"], acc["t3"], "purchase").alias("t4"),
        )

    return F.aggregate(evs_col, state0, step)


def _funnel_counts(
    spark: SparkSession, sf_dir: str, fold: Column, aliases: list[str]
) -> DataFrame:
    """Count the users reaching each funnel stage: ``fold`` (a funnel
    fold over each user's sorted ``evs`` array of timed events) gives
    the stage timestamps t1..t4, counted non-NULL under ``aliases``."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type")
    )
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias("evs")
    )
    folded = grouped.select(fold.alias("f"))
    return folded.agg(
        *[F.count(F.col(f"f.t{i}")).alias(a) for i, a in enumerate(aliases, 1)]
    )


@query(
    "funnel_ordered_stages",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ), v AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND e.ts > s.t1 GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t2 GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t4 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t3 GROUP BY 1
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM v) AS n_then_view,
           (SELECT count(*) FROM c) AS n_then_click,
           (SELECT count(*) FROM p) AS n_then_purchase
    """,
)
def funnel_ordered_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel signup → view → click →
    purchase: a user advances to a stage only with an event AFTER their
    previous-stage timestamp (earliest qualifying event wins).

    The oracle expresses this as four chained min-joins — four passes
    over the event table. The Spark plan instead groups each user's
    events once (`collect_list` + `array_sort`) and computes all four
    stage timestamps in a single `aggregate` fold over the sorted
    array: ONE shuffle on user_id total, independent of funnel depth.
    At 100 TB the chained-join form re-shuffles the full event log per
    stage; the fold ships each event exactly once, and per-user state
    is 4 timestamps. (Same fold-over-sorted-events shape as the
    stateful sessionizer in streaming/demo.py, minus the Python.)
    """
    # ts IS NOT NULL at entry (r12, advisor finding): without it a user
    # whose EVERY signup is timestampless diverges — the oracle's
    # count(*) over the min-anchor CTE counts the min=NULL group while
    # count(f.t1) skips it (the watermark contract, SURVEY 8.15/8.16).
    return _funnel_counts(
        spark,
        sf_dir,
        funnel_fold("evs"),
        ["n_signup", "n_then_view", "n_then_click", "n_then_purchase"],
    )


@query(
    "cohort_retention_weekly",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ), act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.week) // 7 AS INTEGER)
               AS week_offset,
           count(*) AS n_users
    FROM act a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-seen week, then
    counted in every subsequent week they were active — the classic
    retention triangle.

    Plan: one agg for first-seen (shuffle on user_id), one distinct on
    (user, week) — same key, so AQE/exchange reuse keeps it cheap —
    then a join back. The firsts side is one row per user (small next
    to the event log); Catalyst broadcasts it at this scale, and at
    100 TB both sides already hash-partition on user_id so the join is
    co-located. Week truncation (`date_trunc('week')`, Monday-start in
    both engines) happens before the distinct, collapsing the event
    log early.
    """
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    act = ev.select(
        "user_id", F.to_date(F.date_trunc("week", "ts")).alias("week")
    ).distinct()
    return (
        act.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            F.floor(F.datediff("week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


ZSCORE_THRESHOLD = 1.7  # o_totalprice is near-uniform (max |z| ~ sqrt(3)): 1.7 is
# the ~99.9th percentile, so the screen returns real rows; 2.5 would be
# trivially empty on this distribution.


@query(
    "outlier_zscore_orders",
    oracle=f"""
    WITH seg AS (
        SELECT o.o_orderkey, o.o_totalprice, c.c_mktsegment AS mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), stats AS (
        SELECT mktsegment, avg(o_totalprice) AS m,
               stddev_samp(o_totalprice) AS s
        FROM seg GROUP BY 1
    )
    SELECT g.o_orderkey, g.mktsegment, g.o_totalprice,
           round((g.o_totalprice - st.m) / st.s, 3) AS zscore
    FROM seg g JOIN stats st ON g.mktsegment = st.mktsegment
    WHERE abs(round((g.o_totalprice - st.m) / st.s, 3)) > {ZSCORE_THRESHOLD}
    """,
)
def outlier_zscore_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment z-score outliers on order totals (|z| > 1.7) — the
    anomaly screen a data-quality pipeline runs before training joins.

    Deliberately a TWO-PASS plan: aggregate per-segment mean/stddev
    (5 rows), broadcast them back, filter. The tempting one-pass
    alternative — `avg(...).over(Window.partitionBy(segment))` — makes
    each segment ONE window partition, i.e. a single task holding the
    whole segment at 100 TB; the agg+broadcast-join form keeps every
    stage partition-parallel with map-side partials. Both engines
    round z to 3 decimals before the threshold compare so a borderline
    order can't flip on last-bit double noise (same guard as the
    cosine anchors).
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    seg = orders.join(F.broadcast(cust), "o_custkey")
    stats = seg.groupBy("mktsegment").agg(
        F.avg("o_totalprice").alias("m"), F.stddev_samp("o_totalprice").alias("s")
    )
    z = F.round((F.col("o_totalprice") - F.col("m")) / F.col("s"), 3)
    return (
        seg.join(F.broadcast(stats), "mktsegment")
        .withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > ZSCORE_THRESHOLD)
        .select("o_orderkey", "mktsegment", "o_totalprice", "zscore")
    )


WINSOR_LO, WINSOR_HI = 0.05, 0.95


@query(
    "winsorize_orders_by_segment",
    oracle=f"""
    WITH seg AS (
        SELECT o.o_totalprice, c.c_mktsegment AS mktsegment
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), pct AS (
        SELECT mktsegment,
               quantile_cont(o_totalprice, {WINSOR_LO}) AS lo,
               quantile_cont(o_totalprice, {WINSOR_HI}) AS hi
        FROM seg GROUP BY 1
    )
    SELECT s.mktsegment,
           CAST(CAST(min(p.lo) AS DECIMAL(15,4)) AS DOUBLE) AS p05,
           CAST(CAST(min(p.hi) AS DECIMAL(15,4)) AS DOUBLE) AS p95,
           CAST(sum(CASE WHEN s.o_totalprice < p.lo THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN s.o_totalprice > p.hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_high,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(least(greatest(s.o_totalprice, p.lo), p.hi)
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(least(greatest(s.o_totalprice, p.lo), p.hi)
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(least(greatest(s.o_totalprice, p.lo), p.hi)
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
               AS winsorized_total
    FROM seg s JOIN pct p ON s.mktsegment = p.mktsegment
    GROUP BY 1
    """,
)
def winsorize_orders_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment winsorization: clip order totals into the segment's
    [p05, p95] band and report clip counts + the clipped sum — the
    outlier-taming transform applied before a sensitive aggregate
    (means, regressions) the way outlier_zscore_orders is applied
    before a join.

    Same two-pass scale shape as the z-score screen: exact interpolated
    percentiles per segment (5 rows), broadcast back, clip, re-agg —
    no whole-segment window. The clipped sum goes through the
    DECIMAL(25,6) path (functions/numeric.py::dsum) because a clipped
    double sum is exactly the order-dependent aggregate the value-hash
    gate punishes; p05/p95 are emitted via a DECIMAL(25,4) cast, not
    ``round()`` (double rounding differs between engines on
    shortest-repr ties; the decimal cast is bit-stable).
    """
    from leadsight_sales_agent_spark.functions.numeric import dsum

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment").alias("mktsegment")
    )
    seg = orders.join(F.broadcast(cust), "o_custkey")
    pct = seg.groupBy("mktsegment").agg(
        F.percentile("o_totalprice", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("o_totalprice", F.lit(WINSOR_HI)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        seg.join(F.broadcast(pct), "mktsegment")
        .groupBy("mktsegment")
        .agg(
            # r13 (plan-lint R9): a per-order total is scale-bounded, so
            # the quantizer narrows to DECIMAL(15,4) — unscaled < 2^53
            # by construction (ANSI overflow would raise loudly), and
            # the decimal->double conversion stays on the exact int64
            # path in both engines.
            F.min("lo").cast("decimal(15,4)").cast("double").alias("p05"),
            F.min("hi").cast("decimal(15,4)").cast("double").alias("p95"),
            F.sum(F.when(F.col("o_totalprice") < F.col("lo"), 1).otherwise(0)).alias(
                "n_clipped_low"
            ),
            F.sum(F.when(F.col("o_totalprice") > F.col("hi"), 1).otherwise(0)).alias(
                "n_clipped_high"
            ),
            dsum(clipped).alias("winsorized_total"),
        )
    )


@query(
    "interval_max_concurrency",
    oracle="""
    WITH deltas AS (
        SELECT event_type, ts AS t, 1 AS d FROM events
        UNION ALL
        SELECT event_type, ts + INTERVAL 30 MINUTE AS t, -1 AS d FROM events
    ), timeline AS (
        SELECT event_type, t, sum(d) AS net
        FROM deltas GROUP BY 1, 2
    ), running AS (
        SELECT event_type, t,
               sum(net) OVER (PARTITION BY event_type ORDER BY t) AS conc
        FROM timeline
    ), peaked AS (
        SELECT event_type, t, conc,
               max(conc) OVER (PARTITION BY event_type) AS peak
        FROM running
    )
    SELECT event_type,
           CAST(peak AS BIGINT) AS peak_concurrency,
           min(t) FILTER (WHERE conc = peak) AS peak_start
    FROM peaked
    GROUP BY event_type, peak
    """,
)
def interval_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line maximum interval overlap: treating each event as a
    half-open 30-minute activity interval [ts, ts+30m), find per event
    type the peak number of simultaneously active intervals and the
    earliest instant that peak is reached. The classic O(n log n)
    alternative to the O(n²) self-join "count overlapping intervals"
    formulation.

    Scale plan: each interval becomes two delta rows (+1 at start, -1
    at end) — a UNION ALL, no join. Deltas are pre-aggregated per
    (type, instant) BEFORE the window (collapses simultaneous
    starts/ends and makes the running sum's ordering key unique, so
    the result is deterministic without tie-break columns). The
    running sum partitions by event_type — parallel across types, and
    at 100 TB you'd sweep per (type, day) with carried-in open counts
    (two-phase prefix sum) rather than one partition per type. Net-at-
    instant semantics: an interval ending exactly when another starts
    never counts as overlap (half-open intervals), identically encoded
    in both engines by summing deltas per instant first.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    deltas = ev.select("event_type", F.col("ts").alias("t"), F.lit(1).alias("d")).unionAll(
        ev.select(
            "event_type",
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("d"),
        )
    )
    timeline = deltas.groupBy("event_type", "t").agg(F.sum("d").alias("net"))
    w_run = Window.partitionBy("event_type").orderBy("t")
    running = timeline.withColumn("conc", F.sum("net").over(w_run))
    w_all = Window.partitionBy("event_type")
    peaked = running.withColumn("peak", F.max("conc").over(w_all))
    return peaked.groupBy("event_type", F.col("peak").alias("peak_concurrency")).agg(
        F.min(F.when(F.col("conc") == F.col("peak"), F.col("t"))).alias("peak_start")
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE), DATE '2001-09-01')
                   AS recency_days,
               count(*) AS frequency,
               sum(CAST(o_totalprice AS DECIMAL(25,6))) AS monetary
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), scored AS (
        SELECT o_custkey, monetary,
               ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
               ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
               ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
        FROM cust
    )
    SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
               AS rfm_segment,
           count(*) AS n_customers,
           ((CAST(CAST((CAST(CAST(round(sum(monetary), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(monetary), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(monetary), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS segment_monetary
    FROM scored GROUP BY 1
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the standard CRM scoring the reference's lead-prioritization
    pipeline feeds into: quartile each customer on days-since-last-
    order, order count, and exact lifetime spend, concatenate the three
    quartile digits into a segment code ("111" = best), and profile
    each segment.

    Determinism: ntile needs a TOTAL order — every ORDER BY carries
    o_custkey as tiebreak, monetary compares exact decimals, and
    recency compares integer day diffs against a fixed anchor date.
    Scale note: ntile is a global window (single range-sorted
    partition for the numbering pass); per-CUSTOMER cardinality is
    orders-of-magnitude below fact-table cardinality so this is
    usually fine, and the 100 TB fallback is quartile CUTPOINTS from
    exact percentiles + a broadcast join — same segments, no global
    numbering. The one-shuffle groupBy(o_custkey) does the heavy
    lifting; everything after operates on the small per-customer frame.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("monetary"),
    )
    r_w = Window.orderBy("recency_days", "o_custkey")
    f_w = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    m_w = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    scored = cust.select(
        "o_custkey",
        "monetary",
        F.ntile(4).over(r_w).alias("r"),
        F.ntile(4).over(f_w).alias("f"),
        F.ntile(4).over(m_w).alias("m"),
    )
    return scored.groupBy(
        F.concat(
            F.col("r").cast("string"), F.col("f").cast("string"), F.col("m").cast("string")
        ).alias("rfm_segment")
    ).agg(
        F.count("*").alias("n_customers"),
        ddbl(F.round(F.sum("monetary"), 2), 2).alias("segment_monetary"),
    )


@query(
    "gaps_islands_event_days",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), isl AS (
        SELECT user_id,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS INTEGER) AS anchor
        FROM days
    ), islands AS (
        SELECT user_id, anchor, count(*) AS island_len
        FROM isl GROUP BY 1, 2
    )
    SELECT island_len, count(*) AS n_islands
    FROM islands GROUP BY 1
    """,
)
def gaps_islands_event_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: group each user's active calendar days into
    maximal runs of consecutive days (islands), and report the
    distribution of island lengths — the canonical "streak" analysis
    (how long do users stay active without a day off?).

    The trick: for consecutive days, date - row_number() is constant —
    so the island key falls out of one window function, no self-join,
    no iterative stitching. Plan: distinct (user, day) first (one
    shuffle, collapses the fact table to at most users×days rows),
    row_number partitioned BY USER (parallel, no global sort), then
    two cheap hash aggregations. Everything is integer/date algebra —
    bit-stable by construction. At 100 TB the distinct is the only
    heavy stage and it partial-aggregates map-side; the window
    partition key (user_id) is the same as the distinct's leading key,
    so AQE reuses the exchange.
    """
    ev = load(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id", F.date_sub(F.col("d"), F.row_number().over(w)).alias("anchor")
    )
    islands = isl.groupBy("user_id", "anchor").agg(F.count("*").alias("island_len"))
    return islands.groupBy("island_len").agg(F.count("*").alias("n_islands"))


def _basket_pairs(baskets: DataFrame) -> DataFrame:
    """One row ``pr`` = (pa, pb) per item pair pa < pb of each basket's
    sorted distinct ``its`` array."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(its, (x, i) ->"
                " transform(slice(its, i + 2, size(its)),"
                " y -> named_struct('pa', x, 'pb', y))))"
            )
        ).alias("pr")
    )


@query(
    "market_basket_part_pairs",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM lines a
    JOIN lines b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def market_basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: pairs of parts appearing together
    in at least two orders — the support-counting core of association
    mining (the reference scores leads one at a time; a warehouse asks
    what they buy together).

    Scale design: the pair expansion is basket-local, so its output is
    bounded by Σ basket_size² per order — NOT all-pairs over parts.
    r13 optimization rewrite (guide §1.2/§2.4, same device as the
    triple miner): baskets assemble once as sorted distinct-part
    arrays (collect_set dedups, replacing the separate distinct()
    exchange) and the i<j combinations are enumerated map-side with
    transform/slice — the orderkey self-join (two shuffles + two
    sorts + SortMergeJoin) disappears; what remains is the basket
    assembly exchange and the partial-aggregated pair rollup. The
    pair-key groupBy partial-aggregates map-side; the HAVING floor
    prunes the long singleton tail before any downstream join. A
    pathological mega-basket (one order with 10⁵ parts) would square
    — production guard is a basket-size cap (count per order ≤ K)
    exactly like the LSH bucket cap in dedup.py.
    """
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("its"))
    )
    return (
        _basket_pairs(baskets)
        .select(F.col("pr.pa").alias("part_a"), F.col("pr.pb").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "outlier_mad_orders",
    oracle="""
    WITH seg AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), med AS (
        SELECT segment, quantile_cont(price, 0.5) AS seg_median
        FROM seg GROUP BY 1
    ), dev AS (
        SELECT s.segment, s.price, m.seg_median,
               abs(s.price - m.seg_median) AS adev
        FROM seg s JOIN med m ON s.segment = m.segment
    ), mad AS (
        SELECT segment, quantile_cont(adev, 0.5) AS seg_mad
        FROM dev GROUP BY 1
    )
    SELECT d.segment,
           any_value(d.seg_median) AS seg_median,
           any_value(t.seg_mad) AS seg_mad,
           count(*) FILTER (WHERE d.adev > 3 * t.seg_mad) AS n_outliers,
           count(*) AS n_orders
    FROM dev d JOIN mad t ON d.segment = t.segment
    GROUP BY 1
    """,
)
def outlier_mad_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via Median Absolute Deviation: per
    market segment, the median price, the MAD, and how many orders sit
    more than 3 MADs from the median. MAD is the robust twin of the
    z-score query (outlier_zscore_orders): one extreme value shifts a
    mean/stddev but not a median/MAD, so the flag threshold itself
    can't be dragged by the outliers it hunts.

    Cross-engine exactness: exact interpolated medians are binary-safe
    (the interpolation is (a+b)/2 — an exact double op, pinned by
    agg_percentiles_quantity), |x − med| is a single IEEE subtraction,
    and 3·MAD a single product — deterministic everywhere, no decimal
    machinery needed because nothing is ever summed. Plan: two
    grouped-percentile passes with a broadcast of the per-segment
    medians between them (5 rows); the fact table shuffles once for
    the first percentile, and AQE broadcast-joins the rest.
    """
    seg = (
        load(spark, sf_dir, "orders")
        .join(load(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_mktsegment").alias("segment"), F.col("o_totalprice").alias("price"))
    )
    med = seg.groupBy("segment").agg(
        F.percentile("price", F.lit(0.5)).alias("seg_median")
    )
    dev = seg.join(F.broadcast(med), "segment").withColumn(
        "adev", F.abs(F.col("price") - F.col("seg_median"))
    )
    mad = dev.groupBy("segment").agg(F.percentile("adev", F.lit(0.5)).alias("seg_mad"))
    return (
        dev.join(F.broadcast(mad), "segment")
        .groupBy("segment")
        .agg(
            F.any_value("seg_median").alias("seg_median"),
            F.any_value("seg_mad").alias("seg_mad"),
            F.count_if(F.col("adev") > 3 * F.col("seg_mad")).alias("n_outliers"),
            F.count("*").alias("n_orders"),
        )
    )


@query(
    "drift_psi_event_mix",
    oracle="""
    WITH halves AS (
        SELECT event_type,
               count(*) FILTER (WHERE ts <  TIMESTAMP '2024-01-16') AS c1,
               count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS c2
        FROM events GROUP BY 1
    ), tot AS (
        SELECT sum(c1) AS t1, sum(c2) AS t2 FROM halves
    )
    SELECT h.event_type, h.c1, h.c2,
           round((CAST(h.c1 AS DOUBLE) / t.t1 - CAST(h.c2 AS DOUBLE) / t.t2)
                 * ln((CAST(h.c1 AS DOUBLE) / t.t1)
                      / (CAST(h.c2 AS DOUBLE) / t.t2)), 4) AS psi_term
    FROM halves h CROSS JOIN tot t
    """,
)
def drift_psi_event_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two time periods: per event
    type, the PSI contribution (p1−p2)·ln(p1/p2) comparing the event
    mix of the first vs second half of the window — the standard
    drift alarm run before retraining on fresh data (PSI > 0.2 total
    = investigate).

    Both periods aggregate in ONE scan via conditional counts (no
    second pass, no union); the totals are a 1-row cross join. The raw
    counts ship alongside so the consumer can re-derive PSI at any
    grouping. Floats: count ratios are exact-integer divisions
    (deterministic doubles); ln() is libm vs Java Math.log — possibly
    1 ulp apart — so the term is rounded to 4 decimals, far above ulp
    noise (the corr-rounding precedent). Zero-count cells would need
    the usual ε-floor; this dataset has none, and the oracle would
    NaN identically anyway.
    """
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    halves = ev.groupBy("event_type").agg(
        F.count_if(F.col("ts") < cut).alias("c1"),
        F.count_if(F.col("ts") >= cut).alias("c2"),
    )
    tot = halves.agg(F.sum("c1").alias("t1"), F.sum("c2").alias("t2"))
    # nullif guards (r10): an empty half (t=0) or an event type absent
    # from one half (p=0) raises under Spark ANSI where DuckDB's
    # division yields NULL — NULL psi_term on both engines instead.
    p1 = F.col("c1").cast("double") / F.nullif(F.col("t1"), F.lit(0))
    p2 = F.col("c2").cast("double") / F.nullif(F.col("t2"), F.lit(0))
    return halves.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "c1",
        "c2",
        F.round(
            (p1 - p2) * F.log(p1 / F.nullif(p2, F.lit(0.0))), 4
        ).alias("psi_term"),
    )


@query(
    "seasonality_heatmap_events",
    oracle="""
    SELECT isodow(ts) - 1 AS dow,
           hour(ts) AS hod,
           count(*) AS n_events,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(CASE WHEN isfinite(value) THEN value END
                               AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
               AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def seasonality_heatmap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality heatmap: event volume and exact value by
    (day-of-week × hour-of-day) — the 7×24 grid behind every traffic
    dashboard and the capacity model behind autoscaling. Day-of-week
    numbering is the classic cross-engine trap: Spark's dayofweek() is
    Sunday=1 while DuckDB's dayofweek() is Sunday=0 — both sides here
    use the ISO convention (Monday=0: Spark weekday(), DuckDB
    isodow−1), pinned by the oracle. Single scan, one 168-group
    hash-agg, fully map-side partial — the cheapest query in the
    registry at any scale.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count("*").alias("n_events"),
        ddbl(F.round(F.sum(finite(F.col("value")).cast("decimal(25,6)")), 2), 2)
        .alias("total_value"),
    )


@query(
    "basket_bought_a_never_b",
    oracle="""
    WITH bought AS (
        SELECT DISTINCT o.o_custkey, p.p_brand
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ('Brand#1', 'Brand#2')
    )
    SELECT c.c_mktsegment AS segment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM bought b
                  WHERE b.o_custkey = c.c_custkey AND b.p_brand = 'Brand#1')
      AND NOT EXISTS (SELECT 1 FROM bought b
                      WHERE b.o_custkey = c.c_custkey AND b.p_brand = 'Brand#2')
    GROUP BY 1
    """,
)
def basket_bought_a_never_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-logic audience selection: customers who ever bought
    Brand#1 but never Brand#2, profiled by segment — the
    include/exclude cohort definition every campaign-targeting and
    substitution-analysis query reduces to, and the composition the
    semi/anti join pair exists for (EXISTS → left-semi on the A set,
    NOT EXISTS → left-anti on the B set, chained).

    Plan: the purchase fact is filtered to the two brands BEFORE any
    join (brand predicate pushes into the part-side scan; the
    three-table join then runs on a sliver of lineitem), collapsed to
    distinct (customer, brand) once, and both probes reuse that one
    small frame — broadcast twice rather than re-shuffling lineitem.
    Counts are exact integers.
    """
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2"))
        .select("p_partkey", "p_brand")
    )
    bought = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "p_brand")
        .distinct()
    )
    a = bought.filter(F.col("p_brand") == "Brand#1").select("o_custkey")
    b = bought.filter(F.col("p_brand") == "Brand#2").select("o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cohort = c.join(
        F.broadcast(a), c.c_custkey == a.o_custkey, "left_semi"
    ).join(F.broadcast(b), F.col("c_custkey") == b.o_custkey, "left_anti")
    return cohort.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_customers")
    )


@query(
    "repurchase_interval_histogram",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS DATE),
                         CAST(o_orderdate AS DATE)) AS gap_days
        FROM orders WHERE o_orderdate IS NOT NULL
    )
    SELECT gap_days // 30 AS gap_bucket_months,
           count(*) AS n_gaps
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY 1
    """,
)
def repurchase_interval_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repurchase-interval distribution: the days between a customer's
    consecutive orders, bucketed by month — the input to every
    churn-window and replenishment-cycle model ("after how long is a
    customer probably gone?"). lag() per customer (ordered by date
    with the key tiebreak for total order) computes the gaps without a
    self-join; integer day diffs and floor-division buckets are exact
    everywhere. One shuffle on o_custkey; the histogram aggregate is
    map-side collapsed to ~dozens of buckets.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy(
        F.floor(F.col("gap_days") / 30).alias("gap_bucket_months")
    ).agg(F.count("*").alias("n_gaps"))


@query(
    "conversion_latency_percentiles",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), p AS (
        SELECT e.user_id,
               min(epoch_us(e.ts) - epoch_us(s.signup_ts)) AS latency_us
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
        GROUP BY 1
    )
    SELECT count(*) AS n_converted,
           quantile_cont(CAST(latency_us AS DOUBLE), 0.5) / 1000000
               AS median_latency_sec,
           quantile_cont(CAST(latency_us AS DOUBLE), 0.9) / 1000000
               AS p90_latency_sec
    FROM p
    """,
)
def conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event: latency from a user's first signup to their
    first subsequent purchase, summarized as exact median and p90 —
    the conversion-speed KPI, and the input distribution every SLA and
    funnel-decay model starts from. Latencies are exact integer
    microseconds (the unix_micros discipline — never second-truncated
    timestamps), the percentile interpolation is the binary-exact
    (a+b)·fraction form pinned by agg_percentiles_quantity, and the
    /1e6 rescale is one deterministic double op.

    Plan: two hash-aggs (first signup; first qualifying purchase via a
    min over the join — the earliest-after-anchor pattern from the
    funnel), then a single global percentile over the per-user frame
    (users ≪ events; the 100 TB form swaps in approx_percentile).
    """
    ev = load(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(F.unix_micros("ts") - F.unix_micros("signup_ts")).alias("latency_us")
        )
    )
    return p.agg(
        F.count("*").alias("n_converted"),
        (F.percentile(F.col("latency_us").cast("double"), F.lit(0.5)) / 1_000_000).alias(
            "median_latency_sec"
        ),
        (F.percentile(F.col("latency_us").cast("double"), F.lit(0.9)) / 1_000_000).alias(
            "p90_latency_sec"
        ),
    )


@query(
    "market_basket_rules",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT count(DISTINCT l_orderkey) AS n_orders FROM lines
    ), item AS (
        SELECT l_partkey, count(*) AS s FROM lines GROUP BY 1
    ), pair AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS s_ab
        FROM lines a JOIN lines b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, CAST(p.s_ab AS BIGINT) AS s_ab,
           CAST(ia.s AS BIGINT) AS s_a, CAST(ib.s AS BIGINT) AS s_b,
           CAST(p.s_ab * 10000 // ia.s AS BIGINT) AS conf_ab_bp,
           CAST(p.s_ab * 10000 // ib.s AS BIGINT) AS conf_ba_bp,
           CAST(p.s_ab * n.n_orders * 10000 // (ia.s * ib.s) AS BIGINT)
               AS lift_bp
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n
    ORDER BY lift_bp DESC, s_ab DESC, part_a, part_b
    LIMIT 25
    """,
)
def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules on top of the pair supports: confidence in
    both directions (P(b|a), P(a|b)) and LIFT against independence
    (support_ab · N / (support_a · support_b)) — the ranking that
    separates 'bought together because both are popular' from 'bought
    together because they belong together'. Top-25 by lift with a
    total-ordered tie-break; all ratios integer basis points
    (numerator-scaled integer division — nothing floats).

    Scale shape: pair supports come from the basket-bounded self-join
    (market_basket_part_pairs' plan — output bounded by Σ basket² per
    order, never all-pairs over the catalog), item supports are one
    hash-agg and broadcast back onto the pair frame twice, the order
    count is a 1-row broadcast. The support floor (>= 3) prunes the
    singleton tail before the rule join.
    """
    # r8: lines feeds the order count, item supports, and both pair
    # legs — checkpoint so the scan+distinct runs once
    lines = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # ckpt-grain: slim-exception — 2-col distinct order x part keys shared by 4 consumers
        .localCheckpoint(eager=False)
    )
    n = lines.select("l_orderkey").distinct().agg(
        F.count("*").alias("n_orders")
    )
    item = lines.groupBy("l_partkey").agg(F.count("*").alias("s"))
    a = lines.toDF("ok", "part_a")
    b = lines.toDF("ok", "part_b")
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("s_ab"))
        .filter(F.col("s_ab") >= 3)
    )
    ia = item.toDF("part_a", "s_a")
    ib = item.toDF("part_b", "s_b")
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            F.col("s_ab").cast("bigint").alias("s_ab"),
            F.col("s_a").cast("bigint").alias("s_a"),
            F.col("s_b").cast("bigint").alias("s_b"),
            F.expr("CAST(s_ab * 10000 DIV s_a AS BIGINT)").alias("conf_ab_bp"),
            F.expr("CAST(s_ab * 10000 DIV s_b AS BIGINT)").alias("conf_ba_bp"),
            F.expr(
                "CAST(s_ab * n_orders * 10000 DIV (s_a * s_b) AS BIGINT)"
            ).alias("lift_bp"),
        )
        .orderBy(
            F.desc("lift_bp"), F.desc("s_ab"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(25)
    )


@query(
    "attribution_first_touch_session",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               lag(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), marked AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ), sess AS (
        SELECT user_id, event_id, event_type, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM marked
    ), firsts AS (
        SELECT user_id, session_id, event_type AS first_touch
        FROM (SELECT user_id, session_id, event_type,
                     row_number() OVER (PARTITION BY user_id, session_id
                                        ORDER BY ts, event_id) AS rn
              FROM sess) t
        WHERE rn = 1
    )
    SELECT f.first_touch,
           count(*) AS n_purchases,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
    FROM sess s
    JOIN firsts f ON f.user_id = s.user_id AND f.session_id = s.session_id
    WHERE s.event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_first_touch_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution at session grain: every purchase is
    credited to the event type that OPENED its session (30-min-gap
    sessionization, the engine's standard island pass) — the marketing
    question 'which entry channel leads to purchases'. Output: per
    first-touch type, attributed purchases and distinct purchasing
    users.

    Composes two graded devices — the lag/cumsum session islands
    (window_session_30min_gap, exact epoch-microsecond gap compare)
    and a per-session first-row pick — then joins purchases back to
    their session's opener at (user, session) grain. Everything is
    keyed by user_id: the sessionize windows, the firsts pick, and
    the attribution join all reuse ONE partitioning, so the whole
    pipeline is a single shuffle lineage at 100 TB.
    """
    # ts IS NOT NULL at entry (r12): a timestampless event has no
    # session position (the watermark contract); engines disagree on
    # NULL placement under ORDER BY ts
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w_order = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag("ts").over(w_order)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(w_cum)
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    firsts = (
        sess.withColumn("rn", F.row_number().over(w_sess))
        .filter(F.col("rn") == 1)
        .select("user_id", "session_id", F.col("event_type").alias("first_touch"))
    )
    return (
        sess.filter(F.col("event_type") == "purchase")
        .join(firsts, ["user_id", "session_id"])
        .groupBy("first_touch")
        .agg(
            F.count("*").alias("n_purchases"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
    )


@query(
    "cogroup_reconcile_orders_events",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS k, count(*) AS n_orders,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,6)) * 1000000
                             AS BIGINT)) AS BIGINT) AS order_micro
        FROM orders GROUP BY 1
    ), e AS (
        SELECT user_id AS k, count(*) AS n_purchases,
               CAST(sum(CAST(CAST(value AS DECIMAL(25,6)) * 1000000
                             AS BIGINT)) AS BIGINT) AS event_micro
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT COALESCE(o.k, e.k) AS customer_id,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(order_micro, 0) AS order_micro,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(event_micro, 0) AS event_micro,
           COALESCE(order_micro, 0) - COALESCE(event_micro, 0) AS gap_micro
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def cogroup_reconcile_orders_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer reconciliation of the order book against the
    purchase-event log via COGROUPED ``applyInPandas`` — the two-sided
    escape hatch for per-entity custom logic (the one-sided hatches,
    ``mapInPandas`` and ``applyInPandasWithState``, are exercised by
    multimodal.py and streaming/demo.py). Each side is shuffled ONCE
    on the entity key and the matched group pair arrives as two Arrow
    pandas frames; keys missing on a side arrive as an empty frame, so
    the operator sees full-outer semantics without a join.

    The group kernel is pure int64 arithmetic on pre-converted exact
    micro-units (the double→decimal→micro conversion happens
    JVM-side BEFORE the shuffle, numeric.py's device) — so the Python
    stage is deterministic and the whole operator hash-checks against
    the relational spec (full-outer join of two grouped sums). That is
    deliberate: the graded query proves the cogroup plumbing exact;
    real users put the genuinely non-SQL logic (sequence alignment,
    per-entity matching heuristics) in the same kernel seat.

    100 TB: two key-partitioned shuffles (same as the join the oracle
    runs), Arrow-batched groups, no driver collect; group size is
    per-customer (bounded), so no skew beyond what the join itself
    would see. COST NOTE (sf0.1 sweep): ~23 s for 150k keys — the
    per-key Python invocation is the price of the cogroup hatch and
    scales linearly with key count; reach for it only when the kernel
    genuinely needs imperative two-sided logic (this graded query's
    kernel is deliberately SQL-expressible to be hash-checkable).
    """
    import pandas as pd

    micro = lambda c: (F.col(c).cast("decimal(25,6)") * F.lit(10**6)).cast("long")  # noqa: E731

    orders = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("k"), micro("o_totalprice").alias("m"))
    )
    purchases = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("k"), micro("value").alias("m"))
    )

    def reconcile(key: tuple, odf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        om = int(odf["m"].sum()) if len(odf) else 0
        em = int(edf["m"].sum()) if len(edf) else 0
        return pd.DataFrame(
            {
                "customer_id": [int(key[0])],
                "n_orders": [len(odf)],
                "order_micro": [om],
                "n_purchases": [len(edf)],
                "event_micro": [em],
                "gap_micro": [om - em],
            }
        )

    return (
        orders.groupBy("k")
        .cogroup(purchases.groupBy("k"))
        .applyInPandas(
            reconcile,
            schema=(
                "customer_id long, n_orders long, order_micro long, "
                "n_purchases long, event_micro long, gap_micro long"
            ),
        )
    )


@query(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS from_event,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_event
        FROM events WHERE ts IS NOT NULL
    ), t AS (
        SELECT from_event, to_event, count(*) AS n_transitions
        FROM seq WHERE to_event IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_event, to_event, n_transitions,
           CAST((2 * 10000 * n_transitions
                 + sum(n_transitions) OVER (PARTITION BY from_event))
                // (2 * sum(n_transitions) OVER (PARTITION BY from_event))
                AS BIGINT) AS p_bp
    FROM t
    """,
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the user journey: for
    every consecutive event pair within a user's timeline (total order
    (ts, event_id) — gradable under timestamp ties), the transition
    count and the row-conditional probability P(to | from) in half-up
    integer basis points. This is the user-flow / funnel-discovery
    matrix product analytics builds before any sequence model — and
    the bigram-transition analogue of text_top_bigrams on the event
    alphabet.

    One lead() window per user partition (single shuffle on user_id),
    then a 25-cell aggregate; the basis-point division is the integer
    half-up device, so no float crosses the engine boundary. 100 TB:
    the window partitions by user (bounded groups), the matrix is
    |alphabet|^2 rows — driver-safe by construction.
    """
    seq = (
        load(spark, sf_dir, "events")
        # null-ts device (r11): no position in the journey order
        .filter(F.col("ts").isNotNull())
        .withColumn(
            "to_event",
            F.lead("event_type").over(
                Window.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("to_event").isNotNull())
        .select(F.col("event_type").alias("from_event"), "to_event")
    )
    t = seq.groupBy("from_event", "to_event").agg(F.count("*").alias("n_transitions"))
    return t.select(
        "from_event",
        "to_event",
        "n_transitions",
        F.expr(
            "CAST((2 * 10000 * n_transitions + sum(n_transitions)"
            " OVER (PARTITION BY from_event))"
            " DIV (2 * sum(n_transitions) OVER (PARTITION BY from_event))"
            " AS BIGINT)"
        ).alias("p_bp"),
    )


@query(
    "forecast_seasonal_naive_backtest",
    oracle="""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS actual_cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), f AS (
        SELECT month, actual_cents,
               lag(actual_cents, 12) OVER (ORDER BY month) AS forecast_cents
        FROM m
    )
    SELECT month, actual_cents, forecast_cents,
           abs(actual_cents - forecast_cents) AS abs_err_cents,
           CAST((2 * 10000 * abs(actual_cents - forecast_cents) + actual_cents)
                // (2 * actual_cents) AS BIGINT) AS ape_bp
    FROM f WHERE forecast_cents IS NOT NULL
    """,
)
def forecast_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each month's revenue
    as the SAME month one year earlier (lag 12 over the monthly
    series) and score the absolute percentage error in half-up basis
    points — the baseline every revenue-forecasting model must beat,
    and the standard yardstick (a MAPE denominator) in forecast
    evaluation. Exactness: monthly revenue in integer cents (decimal
    cast before summing), errors and APE all integer arithmetic.

    Plan: the fact table aggregates to ~80 month rows FIRST (one
    shuffle, partial-aggregated map-side); the lag-12 window runs over
    that pre-aggregated series — the same months-grid-not-facts rule
    as tpcds_q51. The unpartitioned window is a deliberate single
    task over double-digit rows, not a scale hazard.
    """
    m = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            order_month().alias("month")
        )
        .agg(
            F.sum(exact_cents(F.col("o_totalprice"))).alias("actual_cents")
        )
    )
    f = m.withColumn(
        "forecast_cents",
        F.lag("actual_cents", 12).over(Window.orderBy("month")),
    ).filter(F.col("forecast_cents").isNotNull())
    return f.select(
        "month",
        "actual_cents",
        "forecast_cents",
        F.abs(F.col("actual_cents") - F.col("forecast_cents")).alias("abs_err_cents"),
        F.expr(
            "CAST((2 * 10000 * abs(actual_cents - forecast_cents) + actual_cents)"
            " DIV (2 * actual_cents) AS BIGINT)"
        ).alias("ape_bp"),
    )


def _scored_events(spark: SparkSession, sf_dir: str, label: str) -> DataFrame:
    """Events with a finite value as (score, ``label``): score is the
    value's exact cents, the label 1 for a purchase and 0 otherwise."""
    return (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            exact_cents(F.col("value")).alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(label),
        )
    )


def _score_counts(
    spark: SparkSession, sf_dir: str, label: str, pos: str, neg: str
) -> DataFrame:
    """Per distinct score of ``_scored_events``: the count of purchases
    as ``pos`` and of other events as ``neg``."""
    return _scored_events(spark, sf_dir, label).groupBy("score").agg(
        F.sum(label).cast("long").alias(pos),
        F.sum(1 - F.col(label)).cast("long").alias(neg),
    )


@query(
    "eval_roc_auc_scores",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ), g AS (
        SELECT score,
               CAST(sum(y) AS BIGINT) AS np_s,
               CAST(sum(1 - y) AS BIGINT) AS nn_s
        FROM s GROUP BY score
    ), cum AS (
        SELECT score, np_s, nn_s,
               CAST(COALESCE(sum(nn_s) OVER (ORDER BY score
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS nn_lt
        FROM g
    ), agg AS (
        SELECT CAST(sum(np_s) AS BIGINT) AS n_pos,
               CAST(sum(nn_s) AS BIGINT) AS n_neg,
               CAST(sum(2 * np_s * nn_lt + np_s * nn_s) AS BIGINT) AS u2
        FROM cum
    )
    SELECT n_pos, n_neg, u2,
           CAST((2 * 10000 * u2 + 2 * n_pos * n_neg)
                // (2 * 2 * n_pos * n_neg) AS BIGINT) AS auc_bp
    FROM agg
    """,
)
def eval_roc_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed ROC-AUC via the Mann-Whitney U statistic —
    the ranking-quality metric of every binary scorer (here: does the
    event value separate purchases from non-purchases?). The textbook
    form sorts ALL scores globally; this plan first collapses to the
    DISTINCT-SCORE grain (scores are exact integer cents, so the
    collapse is lossless): per score s, U gains np(s)·nn_below(s) full
    wins plus np(s)·nn(s)/2 tie-halves. Doubling everything keeps the
    arithmetic in BIGINT (u2 = 2U), and the final AUC is half-up
    integer basis points — no float anywhere, bit-stable at any
    parallelism.

    100 TB: the only ordered pass runs on the collapsed score grain
    (bounded by the score domain, here <= 49k rows regardless of event
    count) — the same months-grid-not-facts rule; at a continuous
    score domain the same plan runs after quantizing to the metric's
    reporting precision. The fact table contributes one hash
    aggregate.
    """
    g = _score_counts(spark, sf_dir, "y", "np_s", "nn_s")
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = g.withColumn(
        "nn_lt", F.coalesce(F.sum("nn_s").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("np_s").cast("long").alias("n_pos"),
        F.sum("nn_s").cast("long").alias("n_neg"),
        F.sum(2 * F.col("np_s") * F.col("nn_lt") + F.col("np_s") * F.col("nn_s"))
        .cast("long")
        .alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        F.expr(
            "CAST((2 * 10000 * u2 + 2 * n_pos * n_neg)"
            " DIV nullif(2 * 2 * n_pos * n_neg, 0) AS BIGINT)"
        ).alias("auc_bp"),
    )


CALIB_BIN_CENTS = 5000  # 50-currency-unit score bins


@query(
    "eval_calibration_bins",
    oracle=f"""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    )
    SELECT score // {CALIB_BIN_CENTS} AS bin,
           count(*) AS n_events,
           CAST(sum(y) AS BIGINT) AS n_purchases,
           CAST((2 * 10000 * sum(y) + count(*)) // (2 * count(*)) AS BIGINT)
               AS purchase_rate_bp,
           CAST((2 * sum(score) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_score_cents
    FROM s GROUP BY 1
    """,
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability table: observed outcome rate per
    fixed-width score bin, against the bin's mean score — the
    reliability-diagram input that decides whether a scorer's raw
    outputs can be read as probabilities (and the monitoring artifact
    a deployed model recomputes daily). One hash aggregate, integer
    bins on exact cents, rates and means in half-up integer units —
    the whole table is map-side partial-aggregatable.
    """
    return (
        _scored_events(spark, sf_dir, "y")
        .groupBy(F.expr(f"score DIV {CALIB_BIN_CENTS}").alias("bin"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("y").cast("long").alias("n_purchases"),
            F.expr(
                "CAST((2 * 10000 * sum(y) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("purchase_rate_bp"),
            F.expr(
                "CAST((2 * sum(score) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("mean_score_cents"),
        )
    )


PATH_LEN = 3  # leading events per user journey
PATH_TOP = 15


@query(
    "path_top_sequences",
    oracle=f"""
    WITH paths AS (
        SELECT user_id,
               array_to_string((array_agg(event_type
                                          ORDER BY ts, event_id))[1:{PATH_LEN}],
                               '>') AS path
        FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT path, n_users, rn AS rank
    FROM (
        SELECT path, n_users,
               row_number() OVER (ORDER BY n_users DESC, path ASC) AS rn
        FROM (SELECT path, count(*) AS n_users FROM paths GROUP BY path) c
    ) t
    WHERE rn <= 15
    """,
)
def path_top_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user-journey openings: each user's FIRST {PATH_LEN} events
    (total order (ts, event_id)) joined into a path string, ranked by
    user count — the sequence-level complement of the pairwise Markov
    matrix (markov_event_transitions): where the matrix says what
    follows what, the path table says which whole openings dominate,
    the direct input to onboarding-flow design and the sequence-mining
    seed set.

    One grouped sort-collect per user (collect_list + array_sort on a
    (ts, event_id, type) struct keeps the order total and engine-
    stable), slice, join — then a tiny path-grain rollup with a
    literal-bound rank (WindowGroupLimit). The path alphabet bounds
    the result at |alphabet|^{PATH_LEN} regardless of user count.
    """
    # null-ts device (r11): no position in the journey order
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    paths = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.slice(F.transform("evs", lambda e: e["event_type"]), 1, PATH_LEN),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count("*").alias("n_users"))
    w = Window.orderBy(F.desc("n_users"), F.asc("path"))
    return (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= PATH_TOP)
        .select("path", "n_users", "rank")
    )


@query(
    "eval_ks_two_sample",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    g AS (
        SELECT score,
               CAST(sum(a) AS BIGINT) AS ca,
               CAST(sum(1 - a) AS BIGINT) AS cb
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT score,
               sum(ca) OVER (ORDER BY score) AS cum_a,
               sum(cb) OVER (ORDER BY score) AS cum_b,
               sum(ca) OVER () AS n_a,
               sum(cb) OVER () AS n_b
        FROM g
    ),
    d AS (
        SELECT score, n_a, n_b,
               abs(cum_a * n_b - cum_b * n_a) AS d_num,
               row_number() OVER (
                   ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC, score ASC
               ) AS rn
        FROM cum
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(d_num AS BIGINT) AS d_num,
           CAST((2 * 10000 * d_num + n_a * n_b) // (2 * n_a * n_b) AS BIGINT)
               AS ks_bp,
           score AS ks_at_cents
    FROM d WHERE rn = 1
    """,
)
def eval_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the purchase and
    non-purchase event-value distributions — the standard
    distribution-drift test beside PSI (drift_psi_event_mix): PSI
    needs pre-chosen bins, KS is bin-free and locates WHERE the CDFs
    diverge most (the actionable cut point).

    Exactness device (same family as eval_roc_auc_scores): collapse
    to the distinct-score grain in exact cents, then D = max over
    scores of |cdfA - cdfB| cross-multiplied to the integer
    |cumA*nB - cumB*nA| — no float CDF ever exists; the statistic is
    reported as the exact integer numerator plus half-up basis points,
    and the argmax location resolves ties toward the smallest score
    via an explicit rank. Bit-stable at any parallelism.

    100 TB plan: one hash aggregate over the fact stream, then every
    window runs on the COLLAPSED score grain (bounded by the score
    domain, not the event count). The cumulative and ranking windows
    share one global sort of that small grain.
    """
    g = _score_counts(spark, sf_dir, "a", "ca", "cb")
    wcum = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = g.select(
        "score",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    d = cum.select(
        "score",
        "n_a",
        "n_b",
        F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a")).alias(
            "d_num"
        ),
    ).withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.desc("d_num"), F.asc("score"))),
    )
    return d.filter(F.col("rn") == 1).select(
        "n_a",
        "n_b",
        "d_num",
        F.expr(
            "CAST((2 * 10000 * d_num + n_a * n_b)"
            " DIV nullif(2 * n_a * n_b, 0) AS BIGINT)"
        ).alias("ks_bp"),
        F.col("score").alias("ks_at_cents"),
    )


@query(
    "eval_mutual_information",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               count(*) AS nxy
        FROM orders GROUP BY 1, 2
    ),
    marg AS (
        SELECT x, y, nxy,
               sum(nxy) OVER (PARTITION BY x) AS nx,
               sum(nxy) OVER (PARTITION BY y) AS ny,
               sum(nxy) OVER () AS n
        FROM cells
    )
    SELECT x, y, CAST(nxy AS BIGINT) AS nxy,
           round((CAST(nxy AS DOUBLE) / n)
                 * ln((CAST(nxy AS DOUBLE) * n)
                      / (CAST(nx AS DOUBLE) * ny)), 6) AS mi_term
    FROM marg
    """,
)
def eval_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical columns (order
    priority × status) — the model-agnostic dependence screen beside
    chi-square (chi_square_priority_status): chi-square answers "is
    there dependence", MI quantifies HOW MANY nats of the label a
    feature carries, the ranking used for feature selection. Reported
    per cell (p_xy * ln(p_xy*n^2 / (n_x*n_y)) with the shared-n
    cancellation applied) so any subtotal re-derives from the output.

    One scan builds the |X|x|Y| contingency grid (25 cells); the
    marginals are windows OVER THE GRID, not the fact table — the
    months-grid-not-facts rule again. Floats: every ratio divides
    exact integers (deterministic doubles); ln is libm-vs-Math.log,
    1 ulp apart at worst, so terms round at 6 decimals — far above
    ulp noise, same regime as PSI/WoE.
    """
    cells = (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    marg = cells.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
        F.sum("nxy").over(Window.partitionBy()).alias("n"),
    )
    return marg.select(
        "x",
        "y",
        F.col("nxy").cast("bigint").alias("nxy"),
        F.round(
            (F.col("nxy").cast("double") / F.col("n"))
            * F.log(
                (F.col("nxy").cast("double") * F.col("n"))
                / (F.col("nx").cast("double") * F.col("ny"))
            ),
            6,
        ).alias("mi_term"),
    )


def funnel_fold_deadline(evs_col: str = "evs", hours: int = 48):
    """Deadline-constrained funnel fold: a stage advances only on an
    event strictly after the prior stage AND within ``hours`` of it —
    once a stage's window closes unconverted, the funnel stalls for
    good (no later event reopens it), matching product-analytics
    "convert within N hours" semantics. Module-level for differential
    tests, like funnel_fold."""
    no_ts = F.lit(None).cast("timestamp")
    state0 = F.struct(
        no_ts.alias("t1"), no_ts.alias("t2"), no_ts.alias("t3"), no_ts.alias("t4")
    )
    deadline = F.expr(f"INTERVAL {hours} HOURS")

    def step(acc, e):
        def advance(slot_ts, prev_ts, stage):
            if stage == "signup":
                gate = F.lit(True)
            else:
                gate = (
                    prev_ts.isNotNull()
                    & (e["ts"] > prev_ts)
                    & (e["ts"] <= prev_ts + deadline)
                )
            cond = slot_ts.isNull() & (e["event_type"] == stage) & gate
            return F.when(cond, e["ts"]).otherwise(slot_ts)

        return F.struct(
            advance(acc["t1"], None, "signup").alias("t1"),
            advance(acc["t2"], acc["t1"], "view").alias("t2"),
            advance(acc["t3"], acc["t2"], "click").alias("t3"),
            advance(acc["t4"], acc["t3"], "purchase").alias("t4"),
        )

    return F.aggregate(evs_col, state0, step)


@query(
    "funnel_windowed_deadline",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ), v AS (
        SELECT e.user_id, min(e.ts) AS t2 FROM events e
        JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND e.ts > s.t1
          AND e.ts <= s.t1 + INTERVAL 48 HOUR GROUP BY 1
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t3 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t2
          AND e.ts <= v.t2 + INTERVAL 48 HOUR GROUP BY 1
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t4 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t3
          AND e.ts <= c.t3 + INTERVAL 48 HOUR GROUP BY 1
    )
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM v) AS n_view_48h,
           (SELECT count(*) FROM c) AS n_click_48h,
           (SELECT count(*) FROM p) AS n_purchase_48h
    """,
)
def funnel_windowed_deadline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deadline funnel signup → view → click → purchase where every
    stage must land within 48 hours of the previous one — the
    "convert within N hours" funnel of product analytics (unbounded
    funnels overstate conversion by counting returns weeks later as
    funnel progress).

    Subtlety the deadline adds: the FIRST qualifying event decides —
    but "qualifying" now includes the window, so the min-join oracle
    needs the deadline INSIDE each stage's predicate (min over the
    constrained set), which is exactly what the fold computes by
    construction. Same single-shuffle plan as funnel_ordered_stages:
    one groupBy(user_id), sorted-array fold, all four stages in one
    pass — the chained-join oracle re-shuffles the log per stage.
    """
    # ts IS NOT NULL at entry: same all-null-anchor seam as
    # funnel_ordered_stages (r12, advisor finding)
    return _funnel_counts(
        spark,
        sf_dir,
        funnel_fold_deadline("evs", 48),
        ["n_signup", "n_view_48h", "n_click_48h", "n_purchase_48h"],
    )


@query(
    "interval_union_coverage",
    oracle="""
    WITH iv AS (
        SELECT user_id,
               epoch_us(ts) AS s_us,
               epoch_us(ts) + 1800000000 AS e_us
        FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
        SELECT user_id, s_us, e_us,
               CASE WHEN s_us > coalesce(max(e_us) OVER (
                        PARTITION BY user_id ORDER BY s_us, e_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ),
    islands AS (
        SELECT user_id, s_us, e_us,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s_us, e_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island,
               min(s_us) AS ms, max(e_us) AS me, count(*) AS n_iv
        FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n_iv) AS BIGINT) AS n_intervals,
           count(*) AS n_islands,
           CAST(sum(me - ms) AS BIGINT) AS covered_us
    FROM merged GROUP BY 1
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval coverage (interval UNION length): each event
    opens a 30-minute activity interval; per user, the total WALL
    TIME covered by the union of their intervals plus the merged-
    island count — the "actual active time" metric that naive
    sum-of-durations double-counts whenever intervals overlap. The
    union-length complement of interval_max_concurrency's peak-overlap
    statistic.

    Sweep-line islands without a self-join: a new island starts where
    an interval's start exceeds the running max end of every EARLIER
    interval (window max over rows-to-preceding); cumulative-summing
    the flags labels islands; per-island [min start, max end] spans
    subtract exactly in integer microseconds. All three windows and
    the two aggregates share ONE (user_id) partitioning — Catalyst
    plans a single exchange, and per-user interval counts are bounded,
    so it scales linearly in events.
    """
    # null-ts device (r11): an interval needs a timestamp to open
    iv = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        F.unix_micros("ts").alias("s_us"),
        (F.unix_micros("ts") + F.lit(1800000000)).alias("e_us"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s_us", "e_us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("s_us")
            > F.coalesce(F.max("e_us").over(wprev), F.lit(-(2**63))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(wrun))
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s_us").alias("ms"),
        F.max("e_us").alias("me"),
        F.count(F.lit(1)).alias("n_iv"),
    )
    return merged.groupBy("user_id").agg(
        F.sum("n_iv").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("me") - F.col("ms")).cast("bigint").alias("covered_us"),
    )


@query(
    "market_basket_apriori_triples",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    )
    SELECT a.p AS part_a, b.p AS part_b, c.p AS part_c,
           count(*) AS n_orders
    FROM lines a
    JOIN lines b ON a.ok = b.ok AND a.p < b.p
    JOIN lines c ON a.ok = c.ok AND b.p < c.p
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
    """,
)
def market_basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets (Apriori level 3) over order baskets at the
    part grain — the step after market_basket_part_pairs in classic
    association mining. The ORACLE is the brute spec (triple
    self-join over every basket, HAVING support >= 2); the ENGINE
    runs the Apriori downward-closure prune first: only items that
    appear in some frequent PAIR can appear in a frequent triple, so
    baskets are pruned to that item set before any triple is
    enumerated. Hash equality proves the prune lossless.

    Scale: at 100 TB the unpruned triple expansion is Σ basket³ — the
    prune cuts it to Σ (frequent items per basket)³, typically orders
    of magnitude smaller (here: ~4 items of 12k survive per basket on
    average). The frequent-item set derives from the pair table
    (itself basket-bounded) and BROADCASTS.

    r13 optimization rewrite (guide §1.2 "fix the distributed
    algorithm", §2.4): pairs and triples are now enumerated INSIDE
    each basket as sorted-array combinations (nested transform/slice
    higher-order functions — i<j<k over the sorted distinct items
    gives exactly the pa<pb<pc combinations), not by self-joining the
    (order, part) table. The previous plan shuffled+sorted the pruned
    lines THREE times through two SortMergeJoins (and the pair miner
    shuffled the distinct lines twice more); now the only exchanges
    are the basket assembly (collect_set with map-side partials — the
    distinct() the old form paid anyway), the two support aggregates,
    and the re-assembly of the pruned baskets. 9 exchanges + 4 SMJ
    sorts -> 5 exchanges, 0 joins beyond the broadcast prune. Per-row
    work is O(m²)/O(m³) structs in ONE array at m = items-per-basket
    (TPC-H: <= 7; after the prune, the frequent survivors) — the
    combination arrays never hit the shuffle, only the exploded
    (pair/triple, 1) rows feed partial aggregation. A mega-basket
    corpus (m unbounded) re-introduces the join form per basket-size
    band — the documented guard, same as the pair miner.
    """
    # one basket row per order: sorted distinct parts (collect_set
    # dedups, so no separate distinct() pass over the scan)
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("its"))
        .persist()  # feeds pair mining AND the prune leg (R8: persist,
        #             not localCheckpoint — data-proportional)
    )
    pairs = _basket_pairs(baskets).select(
        F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb")
    )
    fpairs = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("sup"))
        .filter(F.col("sup") >= 2)
    )
    # items that participate in ANY frequent pair — the only possible
    # members of a frequent triple (downward closure)
    fitems = (
        fpairs.select(F.col("pa").alias("p"))
        .union(fpairs.select(F.col("pb").alias("p")))
        .distinct()
    )
    pruned = (
        baskets.select("ok", F.explode("its").alias("p"))
        .join(F.broadcast(fitems), "p")
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("p")).alias("its"))
    )
    tri = pruned.select(
        F.explode(
            F.expr(
                "flatten(transform(its, (x, i) ->"
                " flatten(transform(slice(its, i + 2, size(its)), (y, j) ->"
                " transform(slice(its, i + j + 3, size(its)),"
                " z -> named_struct('part_a', x, 'part_b', y, 'part_c', z))))))"
            )
        ).alias("t")
    ).select(
        F.col("t.part_a").alias("part_a"),
        F.col("t.part_b").alias("part_b"),
        F.col("t.part_c").alias("part_c"),
    )
    return (
        tri.groupBy("part_a", "part_b", "part_c")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@query(
    "eval_decile_lift_table",
    oracle="""
    WITH s AS (
        SELECT event_id,
               CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    ranked AS (
        SELECT y, ntile(10) OVER (ORDER BY score DESC, event_id ASC) AS decile
        FROM s
    ),
    per AS (
        SELECT decile, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos
        FROM ranked GROUP BY 1
    ),
    cum AS (
        SELECT decile, n, n_pos,
               sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
               sum(n) OVER (ORDER BY decile) AS cum_n,
               sum(n_pos) OVER () AS tot_pos,
               sum(n) OVER () AS tot_n
        FROM per
    )
    SELECT decile, n, n_pos,
           CAST((2 * 10000 * cum_pos + tot_pos) // (2 * tot_pos) AS BIGINT)
               AS cum_capture_bp,
           CAST((2 * 10000 * n_pos * tot_n + n * tot_pos)
                // (2 * CAST(n AS HUGEINT) * tot_pos) AS BIGINT) AS lift_bp
    FROM cum
    """,
)
def eval_decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / gains table: rank the population by model score,
    cut into 10 equal-count deciles, and report each decile's positive
    capture and lift vs the base rate — the campaign-targeting report
    that tells a marketer "the top decile holds 2.3x its share of
    purchasers". Completes the scorer-evaluation family: ROC-AUC
    (ranking), calibration (probability quality), lift (business
    yield per contact-depth).

    Determinism: ntile over a NON-unique score would split ties by
    partition order — the ranking adds event_id as an explicit
    tie-break so decile assignment is a total order, bit-stable
    anywhere. Capture and lift are half-up integer basis points
    (lift's cross-multiplication n_pos*tot_n / (n*tot_pos) stays in
    integers — HUGEINT in the oracle, BIGINT is ample in Spark).

    Scale: r9 — the global ntile (single-partition WindowExec over
    every scored row, plan-lint R6) is gone: the total order
    (score DESC, event_id) is prefix-partitionable by a QUANTIZED
    score bucket (negated score DIV 256 — ~220 buckets over the
    cents domain, bounded by the PRICE domain, not the row count;
    r10 fix: sharding by the raw negated score made the offsets grid
    one row per distinct score, i.e. near-data-sized), so the
    prefix-sharded rank device computes each row's global rank from
    per-bucket row_numbers ordered (negscore, event_id) + broadcast
    cumulative counts over the bucket grid, and ntile_from_rank maps
    (rank, n) to the identical decile. The oracle keeps plain ntile —
    hash equality proves the device.
    """
    from leadsight_sales_agent_spark.functions.ranks import (
        ntile_from_rank,
        sharded_prefix,
    )

    s = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            "event_id",
            exact_cents(F.col("value")).alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    ranked = sharded_prefix(
        s.withColumn("_negscore", -F.col("score")).withColumn(
            "_sbucket", F.expr("_negscore DIV 256")
        ),
        "_sbucket",
        ["_negscore", "event_id"],
        rank_out="_rnk",
        total_out="_n",
    ).select("y", ntile_from_rank("_rnk", "_n", 10).alias("decile"))
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("n_pos")
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n_pos").over(wall).alias("tot_pos"),
        F.sum("n").over(wall).alias("tot_n"),
    )
    return cum.select(
        "decile",
        "n",
        "n_pos",
        F.expr(
            "CAST((2 * 10000 * cum_pos + tot_pos)"
            " DIV nullif(2 * tot_pos, 0) AS BIGINT)"
        ).alias("cum_capture_bp"),
        F.expr(
            "CAST((2 * 10000 * n_pos * tot_n + n * tot_pos)"
            " DIV nullif(2 * n * tot_pos, 0) AS BIGINT)"
        ).alias("lift_bp"),
    )


def _monthly_ma24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue (month, moy, cents) with s24, the exact 24x
    centered 2x12 moving-average sum (NULL for the first and last six
    months, whose window is incomplete)."""
    series = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [
            order_month().alias("month"),
            F.month("o_orderdate").cast("bigint").alias("moy"),
        ],
        "cents",
    )
    w = Window.orderBy("month")
    wma = w.rowsBetween(-5, 5)
    return series.select(
        "month",
        "moy",
        "cents",
        (
            F.lit(2) * F.sum("cents").over(wma)
            + F.lag("cents", 6).over(w)
            + F.lead("cents", 6).over(w)
        ).alias("s24"),
    )


@query(
    "forecast_seasonal_decomposition",
    oracle="""
    WITH series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(month(o_orderdate) AS BIGINT) AS moy,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    ma AS (
        SELECT month, moy, cents,
               2 * sum(cents) OVER (ORDER BY month
                                    ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                 + lag(cents, 6)  OVER (ORDER BY month)
                 + lead(cents, 6) OVER (ORDER BY month) AS s24
        FROM series
    ),
    ratios AS (
        SELECT moy,
               (2 * 240000 * cents + s24) // (2 * s24) AS ratio_bp
        FROM ma WHERE s24 IS NOT NULL
    )
    SELECT moy, count(*) AS n_obs,
           CAST((2 * sum(ratio_bp) + count(*)) // (2 * count(*)) AS BIGINT)
               AS seasonal_index_bp
    FROM ratios GROUP BY 1
    """,
)
def forecast_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition by the ratio-to-moving-average
    method: detrend the monthly revenue series with a centered 2x12
    moving average (half-weight on the two edge months — the textbook
    even-period centering), express each month as a ratio to its
    trend, and average the ratios per calendar month into a seasonal
    index (10000 bp = on-trend). The preprocessing step behind every
    seasonally-adjusted KPI, and the model-free complement of
    forecast_seasonal_naive_backtest.

    Exactness: the 2x12 MA is the rational S/24 with S an exact cent
    sum (edge months once, interior months twice — one windowed sum
    plus two lags, no 13-term unroll), so the ratio v/MA cross-
    multiplies to the integer 24*v/S and lands as half-up basis
    points; the per-calendar-month average is integer half-up again.
    No float touches the pipeline.

    Scale: all windows run on the MONTH grain (bounded by the
    calendar, not the fact count) after one fact-table rollup — the
    months-grid-not-facts rule; incomplete edge windows (first/last 6
    months) are excluded by construction, as the method requires.
    """
    ma = _monthly_ma24(spark, sf_dir)
    ratios = ma.filter(F.col("s24").isNotNull()).select(
        "moy",
        F.expr(
            "(2 * 240000 * cents + s24) DIV (2 * s24)"
        ).alias("ratio_bp"),
    )
    return ratios.groupBy("moy").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.expr(
            "CAST((2 * sum(ratio_bp) + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("seasonal_index_bp"),
    )


@query(
    "forecast_mann_kendall_trend",
    oracle="""
    WITH series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN b.cents > a.cents THEN 1
                    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
        FROM series a JOIN series b ON a.month < b.month
    ),
    agg AS (
        SELECT CAST(sum(sgn) AS BIGINT) AS s,
               count(*) AS n_pairs,
               (SELECT count(*) FROM series) AS n_months
        FROM pairs
    )
    SELECT n_months, n_pairs, s,
           CAST(CASE WHEN s >= 0
                THEN (2 * 10000 * s + n_pairs) // (2 * n_pairs)
                ELSE -((2 * 10000 * (-s) + n_pairs) // (2 * n_pairs))
           END AS BIGINT) AS tau_bp
    FROM agg
    """,
)
def forecast_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the monthly revenue series: S = the
    signed count of increasing-minus-decreasing month pairs, and
    Kendall's tau = S over all pairs — the NON-parametric "is there a
    monotone trend" screen (no normality assumption, immune to
    outliers that wreck a least-squares slope). Everything is
    integer: pair signs on exact cent values, tau in half-up basis
    points mirrored through negation so halves round away from zero.

    Scale: the O(m²) pair join runs on the MONTH grain (bounded by
    the calendar — ~7k pairs for 10 years), never the fact table;
    the fact scan contributes one rollup. The same statistic over
    millions of series partitions by series key with the identical
    per-series grain bound.
    """
    series = order_cents_rollup(
        load(spark, sf_dir, "orders"),
        [order_month().alias("month")],
        "cents",
    )
    a = series.select(F.col("month").alias("ma"), F.col("cents").alias("ca"))
    b = series.select(F.col("month").alias("mb"), F.col("cents").alias("cb"))
    pairs = a.join(b, F.col("ma") < F.col("mb")).select(
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    months_n = series.agg(F.count(F.lit(1)).alias("n_months"))
    agg = pairs.agg(
        F.sum("sgn").cast("bigint").alias("s"), F.count(F.lit(1)).alias("n_pairs")
    ).crossJoin(F.broadcast(months_n))
    return agg.select(
        F.col("n_months").cast("bigint").alias("n_months"),
        "n_pairs",
        "s",
        F.expr(
            "CAST(CASE WHEN s >= 0"
            " THEN (2 * 10000 * s + n_pairs) DIV (2 * n_pairs)"
            " ELSE -((2 * 10000 * (-s) + n_pairs) DIV (2 * n_pairs))"
            " END AS BIGINT)"
        ).alias("tau_bp"),
    )


@query(
    "forecast_theil_sen_trend",
    oracle="""
    WITH series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    idx AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS t
        FROM series
    ),
    slopes AS (
        SELECT b.cents - a.cents AS num, b.t - a.t AS den,
               CAST(b.cents - a.cents AS DOUBLE) / (b.t - a.t) AS slope_d
        FROM idx a JOIN idx b ON a.t < b.t
    ),
    ranked AS (
        SELECT num, den, slope_d,
               row_number() OVER (ORDER BY slope_d, num, den) AS rn,
               count(*) OVER () AS n_pairs
        FROM slopes
    )
    SELECT n_pairs, num AS med_num_cents, den AS med_den_months,
           round(slope_d, 6) AS slope_cents_per_month
    FROM ranked WHERE rn = (n_pairs + 1) // 2
    """,
)
def forecast_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend: the MEDIAN of all pairwise slopes of
    the monthly revenue series — up to ~29% contamination tolerance
    vs the zero-breakdown least-squares line, the partner statistic
    to Mann-Kendall's trend direction.

    Determinism: each slope is the exact rational (Δcents, Δmonths);
    the median is an ELEMENT (lower median), selected by ranking on
    the slope's double value (a division of exact integers — identical
    in both engines) with the rational pair as tie-break, so the
    selection is total-ordered and the result is reported as both the
    exact rational and its rounded double. Same month-grain O(m²)
    bound as Mann-Kendall — calendar-bounded, never fact-bounded.
    """
    series = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [order_month().alias("month")],
        "cents",
    )
    idx = series.select(
        "cents",
        F.row_number().over(Window.orderBy("month")).cast("bigint").alias("t"),
    )
    a = idx.select(F.col("cents").alias("ca"), F.col("t").alias("ta"))
    b = idx.select(F.col("cents").alias("cb"), F.col("t").alias("tb"))
    slopes = a.join(b, F.col("ta") < F.col("tb")).select(
        (F.col("cb") - F.col("ca")).alias("num"),
        (F.col("tb") - F.col("ta")).alias("den"),
        ((F.col("cb") - F.col("ca")).cast("double") / (F.col("tb") - F.col("ta"))).alias(
            "slope_d"
        ),
    )
    ranked = slopes.select(
        "num",
        "den",
        "slope_d",
        F.row_number().over(Window.orderBy("slope_d", "num", "den")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_pairs"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_pairs + 1) DIV 2")
    ).select(
        "n_pairs",
        F.col("num").alias("med_num_cents"),
        F.col("den").alias("med_den_months"),
        F.round("slope_d", 6).alias("slope_cents_per_month"),
    )


@query(
    "survival_kaplan_meier",
    oracle="""
    WITH anchor AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ),
    outcome AS (
        SELECT a.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > a.t0
                        THEN e.ts END) AS tp,
               max(e.ts) AS tlast,
               any_value(a.t0) AS t0
        FROM anchor a JOIN events e ON e.user_id = a.user_id
        WHERE e.ts IS NOT NULL
        GROUP BY 1
    ),
    spells AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS died,
               CASE WHEN tp IS NOT NULL
                    THEN date_diff('day', t0, tp)
                    ELSE date_diff('day', t0, tlast) END AS dur
        FROM outcome
    ),
    grain AS (
        SELECT dur, CAST(sum(died) AS BIGINT) AS d,
               CAST(sum(1 - died) AS BIGINT) AS c
        FROM spells GROUP BY 1
    ),
    risk AS (
        SELECT dur, d, c,
               sum(d + c) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS gone,
               sum(d + c) OVER () AS total
        FROM grain
    ),
    km AS (
        SELECT dur, d, c,
               total - coalesce(gone, 0) AS n_at_risk,
               sum(CASE WHEN d > 0 AND (total - coalesce(gone, 0)) > d
                        THEN ln(
                       CAST((total - coalesce(gone, 0)) - d AS DOUBLE)
                       / (total - coalesce(gone, 0))) ELSE 0.0 END)
                   OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lnS,
               max(CASE WHEN d = total - coalesce(gone, 0)
                        THEN 1 ELSE 0 END)
                   OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS extinct
        FROM risk
    )
    SELECT dur AS duration_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           d AS d_events, c AS c_censored,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE round(exp(lnS), 6) END AS survival
    FROM km
    """,
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-from-signup-to-purchase
    with right censoring: users who never purchase after signup are
    CENSORED at their last observed event instead of silently dropped
    (dropping them is the classic conversion-time bias — it
    overstates how fast users convert). Output is the full risk
    table: at each distinct duration day, who was still at risk, how
    many converted (d), how many left observation (c), and the
    product-limit survival estimate.

    Float regime: S(t) = Π(1 − d/n) is a cumulative PRODUCT — the one
    shape exact integers can't ride (numerators/denominators compound
    over every step). It runs in log space with ONE expression tree:
    ln((n−d)/n) summed cumulatively, exp at the end, rounded at 6dp —
    ln/exp are the PSI/WoE libm regime (≤1 ulp per term, ~50 terms,
    noise ~1e-14 against a 5e-7 rounding bucket). The extinction
    step (n_at_risk == d, survival exactly 0 from there on) is
    handled by a cumulative flag instead of ln(0). Every count
    feeding the logs is exact-integer from windows over the DURATION
    grain (calendar-bounded), after one user-grain fold over the
    fact table: two shuffles total, both on small grains.
    """
    # ts IS NOT NULL at entry (r12): a user whose whole anchor stage is
    # timestampless yields a NULL-duration spell whose ORDER BY dur
    # placement the engines disagree on (the watermark contract)
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type")
    )
    anchor = _signup_anchor(ev)
    joined = ev.join(anchor.withColumnRenamed("user_id", "uid"), F.col("user_id") == F.col("uid"))
    outcome = joined.groupBy("user_id").agg(
        F.min(
            F.when((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")), F.col("ts"))
        ).alias("tp"),
        F.max("ts").alias("tlast"),
        F.any_value(F.col("t0")).alias("t0"),
    )
    spells = outcome.select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
        F.when(
            F.col("tp").isNotNull(), F.datediff("tp", "t0")
        ).otherwise(F.datediff("tlast", "t0")).alias("dur"),
    )
    grain = spells.groupBy("dur").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.sum(1 - F.col("died")).cast("bigint").alias("c"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    wrun = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    risk = grain.select(
        "dur",
        "d",
        "c",
        (F.sum(F.col("d") + F.col("c")).over(wall)
         - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
         ).alias("n_at_risk"),
    )
    km = risk.select(
        "dur",
        "d",
        "c",
        "n_at_risk",
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("n_at_risk") > F.col("d")),
                F.log(
                    (F.col("n_at_risk") - F.col("d")).cast("double")
                    / F.col("n_at_risk")
                ),
            ).otherwise(F.lit(0.0))
        )
        .over(wrun)
        .alias("lnS"),
        F.max(
            F.when(F.col("d") == F.col("n_at_risk"), 1).otherwise(0)
        )
        .over(wrun)
        .alias("extinct"),
    )
    return km.select(
        F.col("dur").alias("duration_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnS"), 6))
        .alias("survival"),
    )


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey,
               min(strftime(date_trunc('month', o_orderdate), '%Y-%m'))
                   AS cohort
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    spend AS (
        SELECT f.cohort,
               (date_part('year', o.o_orderdate) * 12
                + date_part('month', o.o_orderdate))
               - (CAST(substr(f.cohort, 1, 4) AS BIGINT) * 12
                  + CAST(substr(f.cohort, 6, 2) AS BIGINT)) AS age_months,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
        WHERE o.o_orderdate IS NOT NULL
        GROUP BY 1, 2
    ),
    sized AS (
        SELECT cohort, count(*) AS cohort_users FROM first_order GROUP BY 1
    ),
    curve AS (
        SELECT s.cohort, s.age_months, z.cohort_users,
               sum(s.cents) OVER (PARTITION BY s.cohort ORDER BY s.age_months)
                   AS cum_cents
        FROM spend s JOIN sized z ON s.cohort = z.cohort
    )
    SELECT cohort, CAST(age_months AS BIGINT) AS age_months,
           CAST(cohort_users AS BIGINT) AS cohort_users,
           CAST(cum_cents AS BIGINT) AS cum_cents,
           CAST((2 * cum_cents + cohort_users) // (2 * cohort_users)
                AS BIGINT) AS ltv_cents_per_user
    FROM curve
    WHERE age_months <= 12
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative revenue per cohort at each month of age,
    normalized per cohort member — the payback-period view (how many
    months until a cohort earns back its acquisition cost) that
    extends cohort_retention_weekly's WHO-returns with HOW-MUCH-they-
    spend. Truncated at age 12 so every reported point is a complete
    observation window.

    All integer: cents sums are exact, the per-user LTV is half-up
    integer division, and age-in-months is pure calendar arithmetic
    (year*12+month differences — no date subtraction ambiguity).
    Plan: first-order anchor (one customer-grain agg) joins back
    broadcast; the cumulative window runs per cohort over the
    (cohort, age) GRAIN — months-grid-not-facts — after one rollup.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()).select(
        "o_custkey",
        "o_orderdate",
        exact_cents(F.col("o_totalprice")).alias("cents"),
    )
    first_order = o.groupBy("o_custkey").agg(
        F.min(order_month()).alias("cohort")
    )
    fo = F.broadcast(first_order.withColumnRenamed("o_custkey", "ck"))
    spend = (
        o.join(fo, F.col("o_custkey") == F.col("ck"))
        .select(
            "cohort",
            (
                (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
                - (
                    F.substring("cohort", 1, 4).cast("bigint") * 12
                    + F.substring("cohort", 6, 2).cast("bigint")
                )
            ).alias("age_months"),
            "cents",
        )
        .groupBy("cohort", "age_months")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    sized = first_order.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    curve = spend.join(F.broadcast(sized), "cohort").select(
        "cohort",
        "age_months",
        "cohort_users",
        F.sum("cents")
        .over(Window.partitionBy("cohort").orderBy("age_months"))
        .alias("cum_cents"),
    )
    return curve.filter(F.col("age_months") <= 12).select(
        "cohort",
        F.col("age_months").cast("bigint").alias("age_months"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        F.col("cum_cents").cast("bigint").alias("cum_cents"),
        F.expr(
            "CAST((2 * cum_cents + cohort_users) DIV (2 * cohort_users) AS BIGINT)"
        ).alias("ltv_cents_per_user"),
    )


@query(
    "eval_pr_curve",
    oracle="""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    g AS (
        SELECT score,
               CAST(sum(y) AS BIGINT) AS p,
               CAST(sum(1 - y) AS BIGINT) AS n
        FROM s GROUP BY 1
    ),
    cum AS (
        SELECT score,
               sum(p) OVER (ORDER BY score DESC) AS tp,
               sum(n) OVER (ORDER BY score DESC) AS fp,
               sum(p) OVER () AS pos
        FROM g
    )
    SELECT score AS threshold_cents,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST((2 * 10000 * tp + (tp + fp)) // (2 * (tp + fp)) AS BIGINT)
               AS precision_bp,
           CAST((2 * 10000 * tp + pos) // (2 * pos) AS BIGINT) AS recall_bp
    FROM cum
    """,
)
def eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve at every distinct score threshold —
    the companion of eval_roc_auc_scores for IMBALANCED outcomes
    (ROC flatters a scorer when negatives dominate; precision does
    not). "Predict positive when score >= t" for each distinct t:
    TP/FP are cumulative counts DOWN the score axis (one descending
    cumulative window over the collapsed score grain — the same
    grain-not-facts device as ROC/KS), precision and recall land as
    half-up basis points of exact integer ratios.
    """
    g = _score_counts(spark, sf_dir, "y", "p", "n")
    wdesc = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = g.select(
        "score",
        F.sum("p").over(wdesc).alias("tp"),
        F.sum("n").over(wdesc).alias("fp"),
        F.sum("p").over(wall).alias("pos"),
    )
    return cum.select(
        F.col("score").alias("threshold_cents"),
        "tp",
        "fp",
        F.expr(
            "CAST((2 * 10000 * tp + (tp + fp)) DIV nullif(2 * (tp + fp), 0) AS BIGINT)"
        ).alias("precision_bp"),
        F.expr(
            "CAST((2 * 10000 * tp + pos) DIV nullif(2 * pos, 0) AS BIGINT)"
        ).alias(
            "recall_bp"
        ),
    )


@query(
    "pattern_sequence_regex_match",
    oracle="""
    WITH coded AS (
        SELECT user_id,
               string_agg(CASE event_type
                              WHEN 'signup' THEN 's' WHEN 'view' THEN 'v'
                              WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                              ELSE 'e' END, ''
                          ORDER BY ts, event_id) AS seq
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, 's[vc]{0,5}p'))
                AS BIGINT) AS n_conversions,
           CAST(len(regexp_extract_all(seq, 'ee+'))
                AS BIGINT) AS n_error_bursts
    FROM coded
    """,
)
def pattern_sequence_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching a la MATCH_RECOGNIZE (which Spark SQL
    lacks): each user's event history collapses to a one-char-per-
    event string in (ts, event_id) order, and row-pattern queries
    become ordinary REGEXES over it — here "signup then purchase
    within at most 5 view/click steps" (s[vc]{0,5}p) and "error
    bursts" (ee+), counted per user as leftmost non-overlapping
    matches (the semantics Java regex and RE2 share for patterns
    without backtracking ambiguity).

    The device trades the O(pattern-states x events) NFA machinery
    for a per-key string fold: one shuffle to sort each user's
    events, then pattern evaluation is map-side JVM regex over a
    string whose length = the user's event count (bounded state, no
    cross-row joins). At 100 TB this is the cheapest expressible
    form of sequential-pattern analytics the engine offers — and the
    string is reusable across many patterns in one pass.
    """
    code = (
        F.when(F.col("event_type") == "signup", "s")
        .when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .otherwise("e")
    )
    # null-ts device (r11): no position in the sequence order
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", code.alias("ch"))
    )
    coded = ev.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "ch"))
                ),
                lambda s: s["ch"],
            ),
        ).alias("seq")
    )
    return coded.select(
        "user_id",
        F.length("seq").cast("bigint").alias("n_events"),
        F.size(F.regexp_extract_all("seq", F.lit("s[vc]{0,5}p"), 0))
        .cast("bigint")
        .alias("n_conversions"),
        F.size(F.regexp_extract_all("seq", F.lit("ee+"), 0))
        .cast("bigint")
        .alias("n_error_bursts"),
    )


def _seasonal_anomaly_oracle() -> str:
    """Composed from the registered seasonal-decomposition oracle:
    each complete-window month's trend ratio compares against its
    calendar month's seasonal index; months deviating more than
    500 bp after seasonal adjustment flag as anomalies."""
    from leadsight_sales_agent_spark.registry import ORACLES

    season = ORACLES["forecast_seasonal_decomposition"]
    return f"""
    WITH season AS ({season}),
    series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(month(o_orderdate) AS BIGINT) AS moy,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    ma AS (
        SELECT month, moy, cents,
               2 * sum(cents) OVER (ORDER BY month
                                    ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                 + lag(cents, 6)  OVER (ORDER BY month)
                 + lead(cents, 6) OVER (ORDER BY month) AS s24
        FROM series
    ),
    ratios AS (
        SELECT month, moy,
               (2 * 240000 * cents + s24) // (2 * s24) AS ratio_bp
        FROM ma WHERE s24 IS NOT NULL
    )
    SELECT r.month, CAST(r.ratio_bp AS BIGINT) AS ratio_bp,
           s.seasonal_index_bp,
           CAST(r.ratio_bp - s.seasonal_index_bp AS BIGINT) AS residual_bp
    FROM ratios r JOIN season s ON r.moy = s.moy
    WHERE abs(r.ratio_bp - s.seasonal_index_bp) > 500
    """


@query("anomaly_seasonal_adjusted", oracle=_seasonal_anomaly_oracle())
def anomaly_seasonal_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection: a month flags only if
    its revenue deviates from trend BEYOND what its calendar month
    normally does (ratio-to-MA minus the seasonal index, |residual| >
    500 bp) — the alarm that doesn't page every December. Composed
    mechanically from the REGISTERED seasonal-decomposition spec
    (the zero-drift device), so the anomaly threshold and the
    seasonal baseline can never disagree about what "seasonal" means.
    All arithmetic stays in the decomposition's half-up integer bp.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    season = QUERIES["forecast_seasonal_decomposition"](spark, sf_dir).select(
        "moy", "seasonal_index_bp"
    )
    ma = _monthly_ma24(spark, sf_dir)
    ratios = ma.filter(F.col("s24").isNotNull()).select(
        "month",
        "moy",
        F.expr("(2 * 240000 * cents + s24) DIV (2 * s24)").alias("ratio_bp"),
    )
    joined = ratios.join(F.broadcast(season), "moy")
    return joined.select(
        "month",
        "ratio_bp",
        "seasonal_index_bp",
        (F.col("ratio_bp") - F.col("seasonal_index_bp")).alias("residual_bp"),
    ).filter(F.abs(F.col("residual_bp")) > 500)


def _monthly_lag_sums(
    spark: SparkSession, sf_dir: str, n_lags: int, t: str
) -> DataFrame:
    """Per lag k = 1..n_lags of the monthly revenue series v (cents):
    nk, sxy = Σ v·v_lag, sxk = Σ v, syk = Σ v_lag over the nk months
    that have a lag-k partner, cross-joined with the whole series' n,
    s1 = Σ v and s2 = Σ v². sxy and s2 are decimal(38,0), the rest
    type ``t``."""
    series = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [order_month().alias("month")],
        "v",
    )
    # Spark's lag() requires a literal offset, so the per-k alignment
    # is a rank join instead: month index i pairs with i-k.
    idx = series.select(
        "v", F.row_number().over(Window.orderBy("month")).alias("i")
    )
    ks = spark.range(1, n_lags + 1).select(F.col("id").cast("bigint").alias("k"))
    a = idx.select(F.col("i").alias("ia"), F.col("v").alias("va"))
    b = idx.select(F.col("i").alias("ib"), F.col("v").alias("vb"))
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("ib") == F.col("ia") - F.col("k"), "left")
    )
    stats = idx.agg(
        F.count(F.lit(1)).cast(t).alias("n"),
        F.sum("v").cast(t).alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v"))
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    has_lag = F.col("vb").isNotNull()
    cross_sums = pairs.groupBy("k").agg(
        F.count("vb").cast(t).alias("nk"),
        F.sum(F.when(has_lag, F.col("va").cast("decimal(38,0)") * F.col("vb")))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.when(has_lag, F.col("va"))).cast(t).alias("sxk"),
        F.sum(F.when(has_lag, F.col("vb"))).cast(t).alias("syk"),
    )
    return cross_sums.crossJoin(F.broadcast(stats))


@query(
    "forecast_acf_monthly",
    oracle=f"""
    WITH series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    lagk AS (
        SELECT k.k, s.v,
               lag(s.v, k.k) OVER (PARTITION BY k.k ORDER BY s.month) AS vl
        FROM series s
        CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS k) k
    ),
    stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s1,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
        FROM series
    ),
    cross_sums AS (
        SELECT k, CAST(count(vl) AS BIGINT) AS nk,
               CAST(sum(CASE WHEN vl IS NOT NULL
                        THEN CAST(v AS HUGEINT) * vl END) AS HUGEINT) AS sxy,
               CAST(sum(CASE WHEN vl IS NOT NULL THEN v END) AS BIGINT) AS sxk,
               CAST(sum(CASE WHEN vl IS NOT NULL THEN vl END) AS BIGINT) AS syk
        FROM lagk GROUP BY 1
    )
    SELECT c.k AS lag_months, c.nk AS n_pairs,
           round(({sql_d53("c.sxy")}
                  - CAST(c.sxk AS DOUBLE) * s.s1 / s.n
                  - CAST(c.syk AS DOUBLE) * s.s1 / s.n
                  + CAST(c.nk AS DOUBLE)
                    * (CAST(s.s1 AS DOUBLE) / s.n)
                    * (CAST(s.s1 AS DOUBLE) / s.n))
                 / ({sql_d53("s.s2")}
                    - CAST(s.n AS DOUBLE)
                      * (CAST(s.s1 AS DOUBLE) / s.n)
                      * (CAST(s.s1 AS DOUBLE) / s.n)),
                 6) AS acf
    FROM cross_sums c CROSS JOIN stats s
    """,
)
def forecast_acf_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the monthly revenue series at lags
    1..12 — the Box-Jenkins diagnostic that picks seasonal periods
    (the lag-12 spike) and decides whether a series needs
    differencing. Uses the standard biased ACF estimator: lag
    products centered on the GLOBAL mean, normalized by the global
    sum of squares.

    Exactness: all sums (Σv, Σv², Σ v·v_lag per k) are exact
    integers; the estimator is then ONE fixed IEEE expression tree
    (the mean enters as the identical division s1/n everywhere),
    rounded 6dp. Lag alignment uses a per-k lag window over a
    12-way replicated month grain — 12 x ~80 rows, calendar-bounded.
    """
    j = _monthly_lag_sums(spark, sf_dir, 12, "bigint")
    mean = F.col("s1").cast("double") / F.col("n")
    # r13: sxy and s2 (sums of squared monthly cents, ~1.8e21 at
    # sf0.01) are past 2^53 — deterministic d53 split, not a bare
    # wide-decimal cast (sxk/syk/s1 ~1e11 stay plain).
    num = (
        F.expr(d53("sxy"))
        - F.col("sxk").cast("double") * F.col("s1") / F.col("n")
        - F.col("syk").cast("double") * F.col("s1") / F.col("n")
        + F.col("nk").cast("double") * mean * mean
    )
    den = F.expr(d53("s2")) - F.col("n").cast("double") * mean * mean
    return j.select(
        F.col("k").alias("lag_months"),
        F.col("nk").alias("n_pairs"),
        F.round(num / den, 6).alias("acf"),
    )


@query(
    "forecast_pacf_durbin_levinson",
    oracle="""
    WITH series AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    lagk AS (
        SELECT k.k, s.v,
               lag(s.v, k.k) OVER (PARTITION BY k.k ORDER BY s.month) AS vl
        FROM series s
        CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) k
    ),
    stats AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(v) AS HUGEINT) AS s1,
               CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
        FROM series
    ),
    cross_sums AS (
        SELECT k, CAST(count(vl) AS HUGEINT) AS nk,
               CAST(sum(CASE WHEN vl IS NOT NULL
                        THEN CAST(v AS HUGEINT) * vl END) AS HUGEINT) AS sxy,
               CAST(sum(CASE WHEN vl IS NOT NULL THEN v END) AS HUGEINT) AS sxk,
               CAST(sum(CASE WHEN vl IS NOT NULL THEN vl END) AS HUGEINT) AS syk
        FROM lagk GROUP BY 1
    ),
    numden AS (
        SELECT s.n,
               n*n*s2 - n*s1*s1 AS d,
               max(CASE WHEN k=1 THEN n*n*sxy - n*s1*sxk - n*s1*syk
                                      + nk*s1*s1 END) AS n1,
               max(CASE WHEN k=2 THEN n*n*sxy - n*s1*sxk - n*s1*syk
                                      + nk*s1*s1 END) AS n2,
               max(CASE WHEN k=3 THEN n*n*sxy - n*s1*sxk - n*s1*syk
                                      + nk*s1*s1 END) AS n3
        FROM cross_sums CROSS JOIN stats s GROUP BY s.n, d
    ),
    acf_bp AS (
        SELECT n,
               CASE WHEN n1 >= 0 THEN (2*10000*n1 + d) // (2*d)
                    ELSE -((2*10000*(-n1) + d) // (2*d)) END AS a1,
               CASE WHEN n2 >= 0 THEN (2*10000*n2 + d) // (2*d)
                    ELSE -((2*10000*(-n2) + d) // (2*d)) END AS a2,
               CASE WHEN n3 >= 0 THEN (2*10000*n3 + d) // (2*d)
                    ELSE -((2*10000*(-n3) + d) // (2*d)) END AS a3
        FROM numden
    ),
    pacf AS (
        SELECT n, a1, a2, a3,
               a2*10000 - a1*a1 AS p2n,
               CAST(10000 AS HUGEINT)*10000 - a1*a1 AS p2d,
               CAST(10000 AS HUGEINT)*10000*a3 - 2*10000*a1*a2
                   + a1*a2*a2 + a1*a1*a1 - a1*a1*a3 AS p3n,
               CAST(10000 AS HUGEINT)*10000*10000 - 2*10000*a1*a1
                   + 2*a1*a1*a2 - 10000*a2*a2 AS p3d
        FROM acf_bp
    )
    SELECT CAST(n AS BIGINT) AS n_months,
           CAST(a1 AS BIGINT) AS acf1_bp,
           CAST(a2 AS BIGINT) AS acf2_bp,
           CAST(a3 AS BIGINT) AS acf3_bp,
           CAST(a1 AS BIGINT) AS pacf1_bp,
           CAST(CASE WHEN p2n >= 0 THEN (2*10000*p2n + p2d) // (2*p2d)
                ELSE -((2*10000*(-p2n) + p2d) // (2*p2d)) END AS BIGINT)
               AS pacf2_bp,
           CAST(CASE WHEN p3n >= 0 THEN (2*10000*p3n + p3d) // (2*p3d)
                ELSE -((2*10000*(-p3n) + p3d) // (2*p3d)) END AS BIGINT)
               AS pacf3_bp
    FROM pacf
    """,
)
def forecast_pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (PACF) of the monthly revenue series at
    lags 1-3 via Durbin-Levinson — the Box-Jenkins AR-order picker
    (`forecast_acf_monthly`'s companion; ACF tails, PACF cuts off at
    the AR order), closing the declared PACF thin spot.

    The D-L recursion divides at every lag, so raw-rational PACF
    degree grows unboundedly — the cross-engine-exact contract is
    instead: (1) the biased ACF r_1..r_3 as EXACT integer rationals
    N_k/D (cross-multiplied by n² — no float mean), reported half-up
    in basis points; (2) PACF by the D-L closed forms (equivalently
    Cramer on the Toeplitz system — equivalence is property-tested)
    applied to those ROUNDED basis-point integers:
    phi_22 = (a2·S − a1²)/(S² − a1²),
    phi_33 = (S²a3 − 2S·a1a2 + a1a2² + a1³ − a1²a3)
           / (S³ − 2S·a1² + 2a1²a2 − S·a2²), S = 10⁴ —
    pure integer polynomials, half-up bp with negative mirroring.
    Magnitudes stay under DECIMAL(38,0)/HUGEINT through sf10; beyond
    that the series would roll up in dollars, not cents.

    Plan: one month-grain rollup (calendar-bounded), a 3-way
    broadcast lag join, one scalar row out — the stats frame is the
    classic tiny-aggregate broadcast shape.
    """
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    nk_expr = (
        dec("n") * F.col("n") * F.col("sxy")
        - dec("n") * F.col("s1") * F.col("sxk")
        - dec("n") * F.col("s1") * F.col("syk")
        + dec("nk") * F.col("s1") * F.col("s1")
    )
    numden = (
        _monthly_lag_sums(spark, sf_dir, 3, "decimal(38,0)")
        .groupBy(
            "n", (dec("n") * F.col("n") * F.col("s2")
                  - dec("n") * F.col("s1") * F.col("s1")).alias("d")
        )
        .agg(
            F.max(F.when(F.col("k") == 1, nk_expr)).alias("n1"),
            F.max(F.when(F.col("k") == 2, nk_expr)).alias("n2"),
            F.max(F.when(F.col("k") == 3, nk_expr)).alias("n3"),
        )
    )

    def bp(num: str, den: str):
        pos = F.expr(f"(2 * 10000 * ({num}) + {den}) DIV (2 * ({den}))")
        neg = -F.expr(f"(2 * 10000 * (-({num})) + {den}) DIV (2 * ({den}))")
        return F.when(F.expr(num) >= 0, pos).otherwise(neg)

    acf_bp = numden.select(
        "n",
        bp("n1", "d").cast("decimal(38,0)").alias("a1"),
        bp("n2", "d").cast("decimal(38,0)").alias("a2"),
        bp("n3", "d").cast("decimal(38,0)").alias("a3"),
    )
    S = "CAST(10000 AS DECIMAL(38,0))"
    pacf = acf_bp.select(
        "n",
        "a1",
        "a2",
        "a3",
        F.expr(f"a2 * 10000 - a1 * a1").alias("p2n"),
        F.expr(f"{S} * 10000 - a1 * a1").alias("p2d"),
        F.expr(
            f"{S} * 10000 * a3 - 2 * 10000 * a1 * a2"
            " + a1 * a2 * a2 + a1 * a1 * a1 - a1 * a1 * a3"
        ).alias("p3n"),
        F.expr(
            f"{S} * 10000 * 10000 - 2 * 10000 * a1 * a1"
            " + 2 * a1 * a1 * a2 - 10000 * a2 * a2"
        ).alias("p3d"),
    )
    return pacf.select(
        F.col("n").cast("bigint").alias("n_months"),
        F.col("a1").cast("bigint").alias("acf1_bp"),
        F.col("a2").cast("bigint").alias("acf2_bp"),
        F.col("a3").cast("bigint").alias("acf3_bp"),
        F.col("a1").cast("bigint").alias("pacf1_bp"),
        bp("p2n", "p2d").cast("bigint").alias("pacf2_bp"),
        bp("p3n", "p3d").cast("bigint").alias("pacf3_bp"),
    )


@query(
    "territory_snake_balanced_assignment",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT o_custkey, cents,
               CAST(row_number() OVER (ORDER BY cents DESC, o_custkey ASC) - 1
                    AS BIGINT) AS r
        FROM cust
    ),
    assigned AS (
        SELECT o_custkey, cents,
               CASE WHEN r % 8 < 4 THEN r % 4 ELSE 3 - (r % 4) END AS territory
        FROM ranked
    ),
    per AS (
        SELECT territory, count(*) AS n_customers,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM assigned GROUP BY 1
    )
    SELECT territory, n_customers, cents,
           CAST((2 * 10000 * cents + t.tot) // (2 * t.tot) AS BIGINT)
               AS share_bp
    FROM per CROSS JOIN (SELECT sum(cents) AS tot FROM per) t
    """,
)
def territory_snake_balanced_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced territory assignment by SNAKE DRAFT: customers ranked
    by lifetime revenue are dealt to 4 territories in serpentine
    order (1-2-3-4-4-3-2-1...), the deterministic one-pass
    approximation of balanced partitioning that sales-ops actually
    uses — the greedy bin-packing optimum needs a sequential fold,
    the snake gets within a top-customer of it with pure rank
    arithmetic: territory = r%4 on even laps, 3-(r%4) on odd
    (r%8 decides the lap direction). Output: per-territory customer
    count, revenue, and share in half-up bp — the imbalance report.

    One customer-grain rollup + one global rank on that grain (range
    partition at scale); assignment is map-side modular arithmetic.
    """
    cust = load(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(exact_cents(F.col("o_totalprice")))
        .cast("bigint")
        .alias("cents")
    )
    ranked = cust.select(
        "o_custkey",
        "cents",
        (
            F.row_number().over(Window.orderBy(F.desc("cents"), F.asc("o_custkey")))
            - 1
        )
        .cast("bigint")
        .alias("r"),
    )
    assigned = ranked.select(
        "o_custkey",
        "cents",
        F.when(F.col("r") % 8 < 4, F.col("r") % 4)
        .otherwise(F.lit(3) - F.col("r") % 4)
        .alias("territory"),
    )
    per = assigned.groupBy("territory").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    tot = per.agg(F.sum("cents").alias("tot"))
    return per.crossJoin(F.broadcast(tot)).select(
        "territory",
        "n_customers",
        "cents",
        F.expr("CAST((2 * 10000 * cents + tot) DIV (2 * tot) AS BIGINT)").alias(
            "share_bp"
        ),
    )


@query(
    "mrr_movement_waterfall",
    oracle="""
    WITH m AS (
        SELECT o_custkey,
               CAST(coalesce(sum(CASE WHEN strftime(date_trunc('month',
                        o_orderdate), '%Y-%m') = '1997-05'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                                  AS BIGINT) END), 0) AS BIGINT) AS prev,
               CAST(coalesce(sum(CASE WHEN strftime(date_trunc('month',
                        o_orderdate), '%Y-%m') = '1997-06'
                        THEN CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                                  AS BIGINT) END), 0) AS BIGINT) AS cur
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-05-01'
          AND o_orderdate <  TIMESTAMP '1997-07-01'
        GROUP BY 1
    ),
    classed AS (
        SELECT CASE
                 WHEN prev = 0 AND cur > 0 THEN 'new'
                 WHEN prev > 0 AND cur = 0 THEN 'churned'
                 WHEN cur > prev THEN 'expansion'
                 WHEN cur < prev THEN 'contraction'
                 ELSE 'flat' END AS movement,
               prev, cur
        FROM m
    )
    SELECT movement, count(*) AS n_customers,
           CAST(sum(cur - prev) AS BIGINT) AS delta_cents
    FROM classed GROUP BY 1
    """,
)
def mrr_movement_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-movement waterfall between two adjacent months (the
    SaaS MRR bridge applied to order revenue): each customer's May→
    June 1997 change classifies as new / churned / expansion /
    contraction / flat, and the per-class deltas sum EXACTLY to the
    total month-over-month revenue change — the report that explains
    "revenue grew 3%: +8 new, −6 churn, +1 net expansion". The
    month-pair pivot is one conditional aggregation over a
    date-pruned scan (two months of facts read, nothing else);
    classification and deltas are exact integer cents.
    """
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-05-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .select(
            "o_custkey",
            order_month().alias("month"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    m = o.groupBy("o_custkey").agg(
        F.coalesce(
            F.sum(F.when(F.col("month") == "1997-05", F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("prev"),
        F.coalesce(
            F.sum(F.when(F.col("month") == "1997-06", F.col("cents"))), F.lit(0)
        )
        .cast("bigint")
        .alias("cur"),
    )
    movement = (
        F.when((F.col("prev") == 0) & (F.col("cur") > 0), "new")
        .when((F.col("prev") > 0) & (F.col("cur") == 0), "churned")
        .when(F.col("cur") > F.col("prev"), "expansion")
        .when(F.col("cur") < F.col("prev"), "contraction")
        .otherwise("flat")
    )
    return (
        m.select(movement.alias("movement"), "prev", "cur")
        .groupBy("movement")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("cur") - F.col("prev")).cast("bigint").alias("delta_cents"),
        )
    )


@query(
    "ab_diff_in_diff",
    oracle="""
    WITH base AS (
        SELECT CASE WHEN p.p_type = 'PROMO' THEN 'treated'
                    ELSE 'control' END AS grp,
               CASE WHEN l.l_shipdate >= TIMESTAMP '1997-01-01'
                    THEN 'post' ELSE 'pre' END AS period,
               CAST(CAST(l.l_extendedprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    cells AS (
        SELECT grp, period, count(*) AS n_lines,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM base GROUP BY 1, 2
    ),
    wide AS (
        SELECT
            max(CASE WHEN grp = 'treated' AND period = 'post' THEN cents END)
                AS tp,
            max(CASE WHEN grp = 'treated' AND period = 'pre' THEN cents END)
                AS tq,
            max(CASE WHEN grp = 'control' AND period = 'post' THEN cents END)
                AS cp,
            max(CASE WHEN grp = 'control' AND period = 'pre' THEN cents END)
                AS cq
        FROM cells
    )
    SELECT c.grp, c.period, c.n_lines, c.cents,
           CAST((w.tp - w.tq) - (w.cp - w.cq) AS BIGINT) AS did_cents
    FROM cells c CROSS JOIN wide w
    """,
)
def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: promo-part revenue vs everything
    else, before vs after 1997 — the workhorse causal baseline when
    you can't randomize (did the promoted line grow MORE than the
    market's own drift?). DiD = (treatedΔ − controlΔ) on exact
    cents, attached to every cell so the 2x2 table and the headline
    estimate travel together (parallel-trends caveats are the
    analyst's job; the engine's job is exact cell arithmetic).

    One scan (date-pruned), broadcast part flag, 4-cell conditional
    rollup, 1-row wide pivot broadcast back.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "l_partkey",
            F.when(
                F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"),
                "post",
            )
            .otherwise("pre")
            .alias("period"),
            exact_cents(F.col("l_extendedprice")).alias("cents"),
        )
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_type") == "PROMO", "treated")
        .otherwise("control")
        .alias("grp"),
    )
    cells = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("grp", "period")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    wide = cells.agg(
        F.max(F.when((F.col("grp") == "treated") & (F.col("period") == "post"), F.col("cents"))).alias("tp"),
        F.max(F.when((F.col("grp") == "treated") & (F.col("period") == "pre"), F.col("cents"))).alias("tq"),
        F.max(F.when((F.col("grp") == "control") & (F.col("period") == "post"), F.col("cents"))).alias("cp"),
        F.max(F.when((F.col("grp") == "control") & (F.col("period") == "pre"), F.col("cents"))).alias("cq"),
    )
    return cells.crossJoin(F.broadcast(wide)).select(
        "grp",
        "period",
        "n_lines",
        "cents",
        ((F.col("tp") - F.col("tq")) - (F.col("cp") - F.col("cq")))
        .cast("bigint")
        .alias("did_cents"),
    )


@query(
    "eval_auc_by_fold",
    oracle="""
    WITH s AS (
        SELECT (CAST(substr(md5('fold:' || CAST(event_id AS VARCHAR)), 1, 8)
                     AS VARCHAR)) AS hk,
               CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    folded AS (
        SELECT CAST((CAST(instr('0123456789abcdef', substr(hk, 1, 1)) - 1
                     AS BIGINT) * 16
                     + instr('0123456789abcdef', substr(hk, 2, 1)) - 1) % 5
                    AS BIGINT) AS fold,
               score, y
        FROM s
    ),
    g AS (
        SELECT fold, score,
               CAST(sum(y) AS BIGINT) AS np_s,
               CAST(sum(1 - y) AS BIGINT) AS nn_s
        FROM folded GROUP BY 1, 2
    ),
    cum AS (
        SELECT fold, score, np_s, nn_s,
               coalesce(sum(nn_s) OVER (PARTITION BY fold ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS nn_lt
        FROM g
    )
    SELECT fold,
           CAST(sum(np_s) AS BIGINT) AS n_pos,
           CAST(sum(nn_s) AS BIGINT) AS n_neg,
           CAST((2 * 10000 * sum(2 * np_s * nn_lt + np_s * nn_s)
                 + 2 * sum(np_s) * sum(nn_s))
                // (2 * 2 * sum(np_s) * sum(nn_s)) AS BIGINT) AS auc_bp
    FROM cum GROUP BY 1
    """,
)
def eval_auc_by_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated ranking quality: exact Mann-Whitney AUC per
    salted-hash fold (the sample_kfold_assignment device feeding the
    eval_roc_auc_scores device) — the per-fold spread is the
    stability check a single global AUC hides: one lucky fold can
    carry a weak scorer. Folds come from the first two md5 hex chars
    mod 5 (deterministic, engine-portable); within each fold the
    collapsed-score-grain cumulative window and the doubled-U
    integer arithmetic are exactly the registered ROC device,
    partitioned one level deeper.
    """
    s = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            F.substring(
                F.md5(F.concat(F.lit("fold:"), F.col("event_id").cast("string"))),
                1,
                2,
            ).alias("hk"),
            exact_cents(F.col("value")).alias("score"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    folded = s.select(
        (
            F.expr(
                "(CAST(instr('0123456789abcdef', substr(hk, 1, 1)) - 1 AS BIGINT)"
                " * 16 + instr('0123456789abcdef', substr(hk, 2, 1)) - 1) % 5"
            )
        ).alias("fold"),
        "score",
        "y",
    )
    g = folded.groupBy("fold", "score").agg(
        F.sum("y").cast("long").alias("np_s"),
        F.sum(1 - F.col("y")).cast("long").alias("nn_s"),
    )
    w = (
        Window.partitionBy("fold")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = g.withColumn(
        "nn_lt", F.coalesce(F.sum("nn_s").over(w), F.lit(0)).cast("long")
    )
    return cum.groupBy("fold").agg(
        F.sum("np_s").cast("bigint").alias("n_pos"),
        F.sum("nn_s").cast("bigint").alias("n_neg"),
        F.expr(
            "CAST((2 * 10000 * sum(2 * np_s * nn_lt + np_s * nn_s)"
            " + 2 * sum(np_s) * sum(nn_s))"
            " DIV nullif(2 * 2 * sum(np_s) * sum(nn_s), 0) AS BIGINT)"
        ).alias("auc_bp"),
    )


@query(
    "attribution_position_based",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_id, event_type, ts,
               CAST(CAST(coalesce(CASE WHEN isfinite(value) THEN value END, 0)
                         AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               lag(ts) OVER w AS prev_ts
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, event_id, event_type, ts, cents,
               sum(CASE WHEN prev_ts IS NULL
                        OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                   THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gpos
        FROM ordered
    ),
    purchases AS (
        SELECT user_id, session_id, event_id AS p_id, gpos AS p_pos,
               cents AS p_cents
        FROM sess WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT s.user_id, s.session_id, p.p_id, p.p_cents, s.event_type,
               row_number() OVER (PARTITION BY p.p_id ORDER BY s.gpos) AS tpos,
               count(*) OVER (PARTITION BY p.p_id) AS k
        FROM sess s
        JOIN purchases p
          ON s.user_id = p.user_id AND s.session_id = p.session_id
         AND s.gpos < p.p_pos AND s.event_type <> 'purchase'
    ),
    credited AS (
        SELECT event_type, p_cents,
               CASE
                 WHEN k = 1 THEN 10000
                 WHEN k = 2 THEN 5000
                 WHEN tpos = 1 OR tpos = k THEN 4000
                 ELSE 2000 // (k - 2)
                      + CASE WHEN tpos - 1 <= 2000 % (k - 2) THEN 1 ELSE 0 END
               END AS credit_bp
        FROM touches
    )
    SELECT event_type AS touch_type,
           count(*) AS n_credits,
           CAST(sum(credit_bp) AS BIGINT) AS total_credit_bp,
           CAST(sum(credit_bp * p_cents) AS BIGINT) AS credited_centbp
    FROM credited GROUP BY 1
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped 40/20/40) multi-touch attribution:
    each purchase credits the touches earlier in ITS session — 40%
    to the first touch, 40% to the touch just before conversion, 20%
    spread over the middle (k=1 → 100%, k=2 → 50/50) — the standard
    martech model between first-touch's "all credit to discovery"
    and linear's "everything equal". Credits are INTEGER basis
    points with the 20% middle share dealt by largest-remainder in
    position order, so every purchase's credits sum to exactly
    10000 and credited revenue (cent-basis-point units) reconciles
    to the purchase ledger with zero drift.

    Plan: one (user) shuffle sessionizes; the purchase-to-touch
    expansion joins within (user, session) bounded by session
    length; per-purchase position windows partition on the purchase
    id. Nothing global anywhere.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    from leadsight_sales_agent_spark.functions.numeric import finite

    # ts IS NOT NULL at entry (r12): a timestampless touch has no
    # session position (the watermark contract)
    ordered = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        exact_cents(F.coalesce(finite(F.col("value")), F.lit(0))).alias("cents"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    sess = ordered.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "cents",
        F.sum(
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > 1800 * 1000000
                ),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("session_id"),
        F.row_number().over(w).alias("gpos"),
    )
    purchases = sess.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("session_id").alias("p_sess"),
        F.col("event_id").alias("p_id"),
        F.col("gpos").alias("p_pos"),
        F.col("cents").alias("p_cents"),
    )
    touches = (
        sess.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("session_id") == F.col("p_sess"))
            & (F.col("gpos") < F.col("p_pos"))
            & (F.col("event_type") != "purchase"),
        )
        .select(
            "p_id",
            "p_cents",
            "event_type",
            F.row_number()
            .over(Window.partitionBy("p_id").orderBy("gpos"))
            .alias("tpos"),
            F.count(F.lit(1)).over(Window.partitionBy("p_id")).alias("k"),
        )
    )
    credit = (
        F.when(F.col("k") == 1, 10000)
        .when(F.col("k") == 2, 5000)
        .when((F.col("tpos") == 1) | (F.col("tpos") == F.col("k")), 4000)
        .otherwise(
            F.expr("2000 DIV (k - 2)")
            + F.when(F.col("tpos") - 1 <= F.expr("2000 % (k - 2)"), 1).otherwise(0)
        )
    )
    return (
        touches.select("event_type", "p_cents", credit.alias("credit_bp"))
        .groupBy(F.col("event_type").alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum("credit_bp").cast("bigint").alias("total_credit_bp"),
            F.sum(F.col("credit_bp") * F.col("p_cents"))
            .cast("bigint")
            .alias("credited_centbp"),
        )
    )


@query(
    "process_edge_latency",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               lead(event_type) OVER w AS next_type,
               lead(ts) OVER w AS next_ts
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    edges AS (
        SELECT event_type AS from_type, next_type AS to_type,
               epoch_us(next_ts) - epoch_us(ts) AS gap_us
        FROM seq WHERE next_type IS NOT NULL
    ),
    ranked AS (
        SELECT from_type, to_type, gap_us,
               row_number() OVER (PARTITION BY from_type, to_type
                                  ORDER BY gap_us, from_type) AS rn,
               count(*) OVER (PARTITION BY from_type, to_type) AS n
        FROM edges
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
           CAST(gap_us AS BIGINT) AS median_gap_us
    FROM ranked WHERE rn = (n + 1) // 2
    """,
)
def process_edge_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining edge latency: for every directly-follows
    transition (A → B in a user's event sequence), the MEDIAN time
    gap — markov_event_transitions says WHERE journeys go, this says
    HOW LONG each hop takes, and the slowest-median edge is the
    process bottleneck a flow owner attacks first. The median is the
    rank-picked LOWER-median ELEMENT of the exact integer
    microsecond gaps (no averaging, cross-engine exact on arbitrary
    values — the impute_group_median device at edge grain).

    One (user) shuffle builds adjacent pairs via lead(); the
    25-edge grain then sorts per edge for the rank pick — a second
    small exchange on the bounded edge key.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # null-ts device (r11): a hop needs timestamps on both ends
    seq = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    edges = seq.filter(F.col("next_type").isNotNull()).select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("gap_us"),
    )
    we = Window.partitionBy("from_type", "to_type").orderBy(
        "gap_us", "from_type"
    )
    wc = Window.partitionBy("from_type", "to_type")
    ranked = edges.select(
        "from_type",
        "to_type",
        "gap_us",
        F.row_number().over(we).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.filter(F.col("rn") == F.expr("(n + 1) DIV 2")).select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.col("gap_us").cast("bigint").alias("median_gap_us"),
    )


def _conformal_oracle() -> str:
    """Split-conformal interval from the REGISTERED seasonal-naive
    backtest residuals: calibration = all backtest months except the
    last 6, q-hat = the ceil((n+1)*0.9)-th smallest |residual|
    (rank-picked element, exact), coverage audited on the 6
    held-out months."""
    from leadsight_sales_agent_spark.registry import ORACLES

    backtest = ORACLES["forecast_seasonal_naive_backtest"]
    return f"""
    WITH bt AS ({backtest}),
    split AS (
        SELECT month, abs_err_cents,
               row_number() OVER (ORDER BY month DESC) AS recency
        FROM bt
    ),
    calib AS (
        SELECT abs_err_cents FROM split WHERE recency > 6
    ),
    ranked AS (
        SELECT abs_err_cents,
               row_number() OVER (ORDER BY abs_err_cents, abs_err_cents) AS rn,
               count(*) OVER () AS n
        FROM calib
    ),
    qhat AS (
        SELECT abs_err_cents AS q_cents, n
        FROM ranked
        WHERE rn = least(CAST(ceil((n + 1) * 0.9) AS BIGINT), n)
    ),
    test AS (
        SELECT month, abs_err_cents FROM split WHERE recency <= 6
    )
    SELECT q.n AS n_calibration,
           CAST(q.q_cents AS BIGINT) AS qhat_cents,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(count(*) FILTER (WHERE t.abs_err_cents <= q.q_cents) AS BIGINT)
               AS n_covered
    FROM test t CROSS JOIN qhat q
    GROUP BY q.n, q.q_cents
    """


@query("forecast_conformal_interval", oracle=_conformal_oracle())
def forecast_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    forecaster: the 90% interval half-width q-hat is the
    ⌈(n+1)·0.9⌉-th smallest calibration residual — a finite-sample,
    distribution-free guarantee (coverage ≥ 90% regardless of the
    error distribution), the modern uncertainty wrapper every point
    forecaster ships with. Composed from the REGISTERED backtest
    spec: residuals are its exact integer cents, the quantile is a
    rank-picked ELEMENT (never interpolated), and the held-out
    last-6-months coverage count audits the guarantee. (n+1)·0.9
    evaluates on exact small integers — ceil is deterministic.

    Plan: everything after the backtest runs on the ~80-row month
    grain; at scale the same construction runs per series key with
    the identical per-group rank pick.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    bt = QUERIES["forecast_seasonal_naive_backtest"](spark, sf_dir)
    split = bt.select(
        "month",
        "abs_err_cents",
        F.row_number().over(Window.orderBy(F.desc("month"))).alias("recency"),
    )
    calib = split.filter(F.col("recency") > 6).select("abs_err_cents")
    ranked = calib.select(
        "abs_err_cents",
        F.row_number().over(Window.orderBy("abs_err_cents")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    qhat = ranked.filter(
        F.col("rn")
        == F.least(F.ceil((F.col("n") + 1) * 0.9).cast("bigint"), F.col("n"))
    ).select(F.col("abs_err_cents").alias("q_cents"), "n")
    test = split.filter(F.col("recency") <= 6).select("abs_err_cents")
    return (
        test.crossJoin(F.broadcast(qhat))
        .groupBy("n", "q_cents")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.count_if(F.col("abs_err_cents") <= F.col("q_cents"))
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            F.col("n").alias("n_calibration"),
            F.col("q_cents").cast("bigint").alias("qhat_cents"),
            "n_test",
            "n_covered",
        )
    )


def _ece_oracle() -> str:
    """Expected calibration error composed from the registered
    calibration-bin spec: ECE = Σ (n_b/N)·|acc_b − conf_b| where
    conf_b is the bin's mean score normalized to the outcome scale.
    Scores are cents and outcomes 0/1, so confidence = mean score /
    max score (a fixed normalizer: the global max score, exact
    integer) and everything cross-multiplies to integers."""
    from leadsight_sales_agent_spark.registry import ORACLES

    bins = ORACLES["eval_calibration_bins"]
    return f"""
    WITH b AS ({bins}),
    mx AS (
        SELECT max(CAST(value AS DECIMAL(25,2)) * 100) AS mx
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    terms AS (
        SELECT b.n_events,
               abs(CAST(b.purchase_rate_bp AS HUGEINT) * CAST(m.mx AS BIGINT)
                   - CAST(b.mean_score_cents AS HUGEINT) * 10000) AS dev_num,
               CAST(m.mx AS BIGINT) AS mx
        FROM b CROSS JOIN mx m
    )
    SELECT CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST((2 * sum(n_events * dev_num)
                 + sum(n_events) * max(mx))
                // (2 * sum(n_events) * max(mx)) AS BIGINT) AS ece_bp
    FROM terms
    """


@query("eval_expected_calibration_error", oracle=_ece_oracle())
def eval_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected Calibration Error: the event-weighted mean gap between
    each score bin's OBSERVED purchase rate and its mean score
    (normalized by the global max score so both live on one scale) —
    the single-number summary of the reliability diagram
    (eval_calibration_bins is the per-bin detail; ECE is what goes
    on the model scorecard). Composed from the registered bin spec —
    zero drift — and exact end-to-end: the deviation
    |rate_bp·max − score·10⁴| cross-multiplies to integers, the
    weighted mean is half-up integer division.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    b = QUERIES["eval_calibration_bins"](spark, sf_dir)
    mx = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .agg(
            (F.max(F.col("value").cast("decimal(25,2)") * 100))
            .cast("bigint")
            .alias("mx")
        )
    )
    terms = b.crossJoin(F.broadcast(mx)).select(
        "n_events",
        F.abs(
            F.col("purchase_rate_bp").cast("decimal(38,0)") * F.col("mx")
            - F.col("mean_score_cents").cast("decimal(38,0)") * 10000
        ).alias("dev_num"),
        "mx",
    )
    return terms.agg(
        F.sum("n_events").cast("bigint").alias("n_events"),
        F.expr(
            "CAST((2 * sum(n_events * dev_num) + sum(n_events) * max(mx))"
            " DIV (2 * sum(n_events) * max(mx)) AS BIGINT)"
        ).alias("ece_bp"),
    )


@query(
    "forecast_seasonal_mann_kendall",
    oracle="""
    WITH series AS (
        SELECT CAST(month(o_orderdate) AS BIGINT) AS moy,
               CAST(date_part('year', o_orderdate) AS BIGINT) AS yr,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.moy,
               CASE WHEN b.cents > a.cents THEN 1
                    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
        FROM series a JOIN series b ON a.moy = b.moy AND a.yr < b.yr
    )
    SELECT moy, count(*) AS n_pairs,
           CAST(sum(sgn) AS BIGINT) AS s,
           CAST(CASE WHEN sum(sgn) >= 0
                THEN (2 * 10000 * sum(sgn) + count(*)) // (2 * count(*))
                ELSE -((2 * 10000 * (-sum(sgn)) + count(*)) // (2 * count(*)))
           END AS BIGINT) AS tau_bp
    FROM pairs GROUP BY 1
    """,
)
def forecast_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Mann-Kendall: the monotone-trend test run WITHIN each
    calendar month across years (January vs January, never January vs
    July) — the Hirsch-Slack correction that keeps seasonality from
    masquerading as (or masking) a trend, standard in any seasonal
    KPI. Per-month S and tau in exact integers; the global seasonal
    statistic is the plain sum of the 12 S values downstream.

    Pair expansion is within-month-across-years — 12 independent
    ~C(7,2) grids, calendar-bounded like the plain MK test
    (forecast_mann_kendall_trend is the unstratified sibling).
    """
    series = order_cents_rollup(
        load(spark, sf_dir, "orders"),
        [
            F.month("o_orderdate").cast("bigint").alias("moy"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        ],
        "cents",
    )
    a = series.select("moy", F.col("yr").alias("ya"), F.col("cents").alias("ca"))
    b = series.select(
        F.col("moy").alias("moy_b"), F.col("yr").alias("yb"), F.col("cents").alias("cb")
    )
    pairs = a.join(
        b, (F.col("moy") == F.col("moy_b")) & (F.col("ya") < F.col("yb"))
    ).select(
        "moy",
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    return pairs.groupBy("moy").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sgn").cast("bigint").alias("s"),
        F.expr(
            "CAST(CASE WHEN sum(sgn) >= 0"
            " THEN (2 * 10000 * sum(sgn) + count(*)) DIV (2 * count(*))"
            " ELSE -((2 * 10000 * (-sum(sgn)) + count(*)) DIV (2 * count(*)))"
            " END AS BIGINT)"
        ).alias("tau_bp"),
    )


@query(
    "chi_trend_cochran_armitage",
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey,
               CAST(CAST(c.c_acctbal AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS bal_cents,
               max(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        -- exclude unknown balances: the ntile ORDER over a NULL key is
        -- engine-divergent (Spark NULLS FIRST, DuckDB NULLS LAST) and
        -- an exposure trend over unknown exposure is meaningless
        WHERE c.c_acctbal IS NOT NULL
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT CAST(ntile(5) OVER (ORDER BY bal_cents, c_custkey) AS BIGINT)
                   AS s,
               y
        FROM cust
    ),
    g AS (
        SELECT s, count(*) AS n_i, CAST(sum(y) AS BIGINT) AS r_i
        FROM scored GROUP BY 1
    ),
    tot AS (
        SELECT sum(n_i) AS n, sum(r_i) AS r,
               sum(s * n_i) AS sn, sum(s * s * n_i) AS ssn,
               sum(s * r_i) AS sr
        FROM g
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(r AS BIGINT) AS n_positive,
           CAST(n * sr - r * sn AS BIGINT) AS t_num,
           round(CAST(n * sr - r * sn AS DOUBLE)
                 / sqrt(CAST(r AS DOUBLE) * (n - r)
                        * (n * ssn - sn * sn) / n), 4) AS z_trend
    FROM tot
    """,
)
def chi_trend_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does the probability of placing an
    URGENT order rise MONOTONICALLY with customer account-balance
    quintile? The ordered-exposure upgrade of the chi-square
    independence test (chi_square_priority_status treats categories
    as unordered; CA spends its single degree of freedom on the
    linear trend, making it far more powerful when order matters —
    dose-response analysis, wealth-tier effects). Quintiles are
    tie-broken ntiles (total order); the trend numerator
    T = N·Σs·r − R·Σs·n is EXACT integer, and z = T/√Var is one
    fixed IEEE tree over integer-derived doubles, rounded 4dp.

    One customer-grain rollup (fact join → max flag), a 5-group
    reduce, and scalar arithmetic — the heavy lifting is all in the
    first aggregation.
    """
    cust = (
        load(spark, sf_dir, "customer")
        # exclude unknown balances (r10 nulls audit): ntile's ORDER BY
        # over a NULL key is engine-divergent (Spark NULLS FIRST,
        # DuckDB NULLS LAST), and a trend over unknown exposure is
        # meaningless — the oracle carries the same filter
        .filter(F.col("c_acctbal").isNotNull())
        .select(
            "c_custkey",
            exact_cents(F.col("c_acctbal")).alias("bal_cents"),
        )
        .join(
            load(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy("c_custkey", "bal_cents")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("y")
        )
    )
    scored = cust.select(
        F.ntile(5)
        .over(Window.orderBy("bal_cents", "c_custkey"))
        .cast("bigint")
        .alias("s"),
        "y",
    )
    g = scored.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_i"), F.sum("y").cast("bigint").alias("r_i")
    )
    tot = g.agg(
        F.sum("n_i").alias("n"),
        F.sum("r_i").alias("r"),
        F.sum(F.col("s") * F.col("n_i")).alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).alias("ssn"),
        F.sum(F.col("s") * F.col("r_i")).alias("sr"),
    )
    t_num = F.col("n") * F.col("sr") - F.col("r") * F.col("sn")
    return tot.select(
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("r").cast("bigint").alias("n_positive"),
        t_num.cast("bigint").alias("t_num"),
        F.round(
            t_num.cast("double")
            / F.sqrt(
                F.col("r").cast("double")
                * (F.col("n") - F.col("r"))
                * (F.col("n") * F.col("ssn") - F.col("sn") * F.col("sn"))
                / F.col("n")
            ),
            4,
        ).alias("z_trend"),
    )


def _cost_threshold_oracle() -> str:
    """Composed from the registered PR-curve spec: pick the threshold
    maximizing integer profit 5·TP − 1·FP (ties → lowest threshold
    maximizing recall... resolved by the explicit rank)."""
    from leadsight_sales_agent_spark.registry import ORACLES

    pr = ORACLES["eval_pr_curve"]
    return f"""
    WITH pr AS ({pr}),
    scored AS (
        SELECT threshold_cents, tp, fp,
               5 * tp - fp AS profit,
               row_number() OVER (ORDER BY 5 * tp - fp DESC,
                                  threshold_cents ASC) AS rn
        FROM pr
    )
    SELECT threshold_cents AS best_threshold_cents,
           tp, fp, CAST(profit AS BIGINT) AS profit
    FROM scored WHERE rn = 1
    """


@query("eval_cost_optimal_threshold", oracle=_cost_threshold_oracle())
def eval_cost_optimal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive operating point: sweep every threshold on the
    REGISTERED PR curve and pick the one maximizing business profit
    (value 5 per true positive, cost 1 per false positive — the
    asymmetric-cost setting where accuracy/F1 pick the WRONG
    threshold). The sweep is the PR grain (bounded by the score
    domain), profit is exact integer arithmetic, and the argmax is
    a total-ordered rank — composed with zero drift from the same
    spec the PR curve grades.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    pr = QUERIES["eval_pr_curve"](spark, sf_dir)
    scored = pr.select(
        "threshold_cents",
        "tp",
        "fp",
        (F.lit(5) * F.col("tp") - F.col("fp")).alias("profit"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.desc("profit"), F.asc("threshold_cents"))
        ),
    )
    return scored.filter(F.col("rn") == 1).select(
        F.col("threshold_cents").alias("best_threshold_cents"),
        "tp",
        "fp",
        F.col("profit").cast("bigint").alias("profit"),
    )


def _qini_oracle() -> str:
    """Qini-style cumulative uplift by score quintile, reusing the
    REGISTERED A/B assignment constants (salt 'ab:', same threshold)
    so the arms here are bit-identical to ab_deterministic_assignment."""
    from leadsight_sales_agent_spark.operators.sampling import (
        _SQL_HASH,
        AB_ARM_THRESHOLD,
    )

    arm = (
        f"CASE WHEN {_SQL_HASH.format(salt='ab:', key='user_id')}"
        f" < '{AB_ARM_THRESHOLD}' THEN 'A' ELSE 'B' END"
    )
    return f"""
    WITH users AS (
        SELECT user_id,
               {arm} AS arm,
               CAST(sum(CAST(coalesce(CASE WHEN isfinite(value) THEN value END, 0)
                             AS DECIMAL(25,2)) * 100)
                    AS BIGINT) AS score_cents,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT arm, y,
               ntile(5) OVER (ORDER BY score_cents DESC, user_id ASC)
                   AS quintile
        FROM users
    ),
    per AS (
        SELECT quintile,
               CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
               CAST(sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS BIGINT) AS pt,
               CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS BIGINT) AS pc
        FROM ranked GROUP BY 1
    ),
    cum AS (
        SELECT quintile,
               sum(nt) OVER w AS nt, sum(pt) OVER w AS pt,
               sum(nc) OVER w AS nc, sum(pc) OVER w AS pc
        FROM per
        WINDOW w AS (ORDER BY quintile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT quintile,
           CAST(nt AS BIGINT) AS cum_treated,
           CAST(pt AS BIGINT) AS cum_treated_pos,
           CAST(nc AS BIGINT) AS cum_control,
           CAST(pc AS BIGINT) AS cum_control_pos,
           CAST(CASE WHEN pt * nc - pc * nt >= 0
                THEN (2 * 10000 * (pt * nc - pc * nt) + nt * nc)
                     // (2 * nt * nc)
                ELSE -((2 * 10000 * (pc * nt - pt * nc) + nt * nc)
                       // (2 * nt * nc))
           END AS BIGINT) AS cum_uplift_bp
    FROM cum
    """


@query("eval_qini_uplift_curve", oracle=_qini_oracle())
def eval_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini-style cumulative uplift curve: users ranked by a targeting
    score (total event value), cut into quintiles, and at each depth
    the CUMULATIVE treated-minus-control conversion-rate gap — the
    uplift-model evaluation that answers "does targeting the top
    scores actually concentrate the causal effect" (with the
    registered hash arms this is an A/A, so the curve hovering
    around 0 is itself the validity check). Arms reuse the EXACT
    registered assignment expression (zero drift); the rate gap is
    the cross-multiplied integer (pt·nc − pc·nt)/(nt·nc), half-up
    bp with negative mirroring.

    One user-grain fold, a total-ordered ntile on the user grain,
    and windows over the 5-row quintile grain.
    """
    from leadsight_sales_agent_spark.operators.sampling import (
        AB_ARM_THRESHOLD,
        hash_key,
    )

    users = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                (
                    F.coalesce(finite(F.col("value")), F.lit(0)).cast("decimal(25,2)")
                    * 100
                )
            )
            .cast("bigint")
            .alias("score_cents"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
        .select(
            "user_id",
            F.when(
                hash_key("ab:", F.col("user_id")) < F.lit(AB_ARM_THRESHOLD), "A"
            )
            .otherwise("B")
            .alias("arm"),
            "score_cents",
            "y",
        )
    )
    ranked = users.select(
        "arm",
        "y",
        F.ntile(5)
        .over(Window.orderBy(F.desc("score_cents"), F.asc("user_id")))
        .alias("quintile"),
    )
    per = ranked.groupBy("quintile").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0)).cast("bigint").alias("nt"),
        F.sum(F.when(F.col("arm") == "A", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("pt"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0)).cast("bigint").alias("nc"),
        F.sum(F.when(F.col("arm") == "B", F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("pc"),
    )
    w = Window.orderBy("quintile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "quintile",
        F.sum("nt").over(w).alias("nt"),
        F.sum("pt").over(w).alias("pt"),
        F.sum("nc").over(w).alias("nc"),
        F.sum("pc").over(w).alias("pc"),
    )
    return cum.select(
        "quintile",
        F.col("nt").cast("bigint").alias("cum_treated"),
        F.col("pt").cast("bigint").alias("cum_treated_pos"),
        F.col("nc").cast("bigint").alias("cum_control"),
        F.col("pc").cast("bigint").alias("cum_control_pos"),
        F.expr(
            "CAST(CASE WHEN pt * nc - pc * nt >= 0"
            " THEN (2 * 10000 * (pt * nc - pc * nt) + nt * nc)"
            " DIV nullif(2 * nt * nc, 0)"
            " ELSE -((2 * 10000 * (pc * nt - pt * nc) + nt * nc)"
            " DIV nullif(2 * nt * nc, 0)) END AS BIGINT)"
        ).alias("cum_uplift_bp"),
    )


# Shapley channel attribution: n = 4 marketing channels -> 16 coalitions.
SHAPLEY_CHANNELS = (("click", 1), ("view", 2), ("signup", 4), ("error", 8))
SHAPLEY_N = 4
# |S|! * (n-|S|-1)! by |S| (n = 4): the Shapley weight numerators over n! = 24
_SHAPLEY_W = {0: 6, 1: 2, 2: 2, 3: 6}
def _shapley_w_sql(col: str) -> str:
    return f"CASE bit_count({col}) " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in _SHAPLEY_W.items()
    ) + " END"
_MASK_CASE = "CASE e.event_type " + " ".join(
    f"WHEN '{c}' THEN {b}" for c, b in SHAPLEY_CHANNELS
) + " ELSE 0 END"


@query(
    "attribution_shapley_channels",
    oracle=f"""
    WITH fp AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'purchase' GROUP BY 1
    ),
    pre AS (
        SELECT fp.user_id,
               coalesce(bit_or(CASE WHEN e.ts < fp.t0
                                    THEN {_MASK_CASE} END), 0) AS umask
        FROM fp LEFT JOIN events e
          ON e.user_id = fp.user_id AND e.ts < fp.t0
             AND e.event_type <> 'purchase'
        GROUP BY 1
    ),
    coalitions AS (
        SELECT unnest(generate_series(0, {2 ** SHAPLEY_N - 1})) AS mask
    ),
    v AS (
        SELECT c.mask, CAST(count(p.user_id) AS BIGINT) AS v
        FROM coalitions c
        LEFT JOIN pre p ON (p.umask & c.mask) = p.umask
        GROUP BY 1
    ),
    channels AS (
        SELECT * FROM (VALUES {", ".join(f"('{c}', {b})" for c, b in SHAPLEY_CHANNELS)})
            AS t(channel, bit)
    ),
    contrib AS (
        SELECT ch.channel,
               CAST(sum({_shapley_w_sql('vo.mask')} * (vw.v - vo.v)) AS BIGINT)
                   AS shapley_x24
        FROM channels ch
        JOIN v vo ON (vo.mask & ch.bit) = 0
        JOIN v vw ON vw.mask = (vo.mask | ch.bit)
        GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT v FROM v WHERE mask = {2 ** SHAPLEY_N - 1})
               - (SELECT v FROM v WHERE mask = 0) AS span
    )
    SELECT c.channel, c.shapley_x24,
           CAST(CASE WHEN c.shapley_x24 >= 0
                THEN (2 * 10000 * c.shapley_x24 + 24 * t.span)
                     // (2 * 24 * t.span)
                ELSE -((2 * 10000 * (-c.shapley_x24) + 24 * t.span)
                       // (2 * 24 * t.span)) END AS BIGINT) AS share_bp
    FROM contrib c CROSS JOIN tot t
    """,
)
def attribution_shapley_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution — the game-theoretic member
    of the attribution family (first-touch and position-based are the
    heuristics; Shapley is the axiomatically fair split): the
    coalition value v(S) counts converted users whose pre-first-
    purchase channel set fits inside S, and each channel's credit is
    the weighted sum of its marginal contributions over all 2^n
    coalitions. With n = {SHAPLEY_N} channels the 16 coalitions
    enumerate EXACTLY (bitmask arithmetic — no sampling, no
    permutation Monte Carlo), and scaling by n! = 24 keeps every
    Shapley value an exact integer; shares report half-up basis
    points of the attributable span v(N) − v(∅). Efficiency
    (Σφ = v(N) − v(∅)) is pinned in tests — the axiom that makes the
    split a true allocation.

    Scale: users collapse to a 4-bit mask each (one hash-agg); v is a
    16-row table built by a broadcast mask-containment join; the
    Shapley sum is 4 x 8 coalition pairs — constant work after the
    one user-grain pass.
    """
    ev = load(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    pre_events = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "ts",
        F.expr(_MASK_CASE.replace("e.event_type", "event_type")).alias("bit"),
    )
    pre = (
        fp.join(
            pre_events,
            (fp.user_id == pre_events.user_id) & (pre_events.ts < fp.t0),
            "left",
        )
        .groupBy(fp.user_id)
        .agg(F.coalesce(F.bit_or("bit"), F.lit(0)).alias("umask"))
    )
    coalitions = spark.range(0, 2 ** SHAPLEY_N).select(
        F.col("id").cast("int").alias("mask")
    )
    # r8: v (16 coalition rows) feeds with/without legs + the span
    # anchor — checkpoint so the user-mask build runs once
    v = (
        F.broadcast(coalitions)
        .join(pre, F.expr("(umask & mask) = umask"), "left")
        .groupBy("mask")
        .agg(F.count("user_id").cast("bigint").alias("v"))
        # ckpt-grain: bounded — 16 coalition rows
        .localCheckpoint(eager=False)
    )
    channels = spark.createDataFrame(
        list(SHAPLEY_CHANNELS), "channel STRING, bit INT"
    )
    vo = v.select(F.col("mask"), F.col("v").alias("v_without"))
    vw = v.select(F.col("mask").alias("mask_with"), F.col("v").alias("v_with"))
    contrib = (
        F.broadcast(channels)
        .join(vo, F.expr("(mask & bit) = 0"))
        .join(vw, F.expr("mask_with = (mask | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.expr(_shapley_w_sql("mask"))
                * (F.col("v_with") - F.col("v_without"))
            )
            .cast("bigint")
            .alias("shapley_x24")
        )
    )
    span = (
        v.agg(
            (
                F.max(F.when(F.col("mask") == 2 ** SHAPLEY_N - 1, F.col("v")))
                - F.max(F.when(F.col("mask") == 0, F.col("v")))
            ).alias("span")
        )
    )
    # nullif divisor (r10): span = 0 on a degenerate/empty event log
    # (the 16-coalition grid still exists, all worths 0) — Spark ANSI
    # DIV raises where DuckDB // yields NULL; nullif is a no-op
    # whenever any coalition has value.
    pos = F.expr(
        "(2 * 10000 * shapley_x24 + 24 * span) DIV nullif(2 * 24 * span, 0)"
    )
    neg = -F.expr(
        "(2 * 10000 * (-shapley_x24) + 24 * span)"
        " DIV nullif(2 * 24 * span, 0)"
    )
    return contrib.crossJoin(F.broadcast(span)).select(
        "channel",
        "shapley_x24",
        F.when(F.col("shapley_x24") >= 0, pos)
        .otherwise(neg)
        .cast("bigint")
        .alias("share_bp"),
    )


def _two_segment_cents(
    spark: SparkSession, sf_dir: str, seg_a: str, seg_b: str
) -> DataFrame:
    """Order totals in integer cents for the customers of two market
    segments: (cents, a) with a = 1 for seg_a and 0 for seg_b."""
    return (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer").filter(
                F.col("c_mktsegment").isin(seg_a, seg_b)
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            exact_cents(F.col("o_totalprice")).alias("cents"),
            F.when(F.col("c_mktsegment") == seg_a, 1).otherwise(0).alias("a"),
        )
    )


def _segment_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order totals in integer cents with their customer's market
    segment: (cents, seg)."""
    return (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            exact_cents(F.col("o_totalprice")).alias("cents"),
            F.col("c_mktsegment").alias("seg"),
        )
    )


def _floor_mean_centered(
    cells: DataFrame, key: str, val: str, *part: str
) -> DataFrame:
    """(key, val, cnt) cells plus d = val - floor(mean of val) over the
    cells of each `part` partition (the whole frame when none): the
    shift that keeps every centered power sum an exact integer."""
    w = Window.partitionBy(*part)
    return cells.select(
        key,
        val,
        "cnt",
        F.sum(F.col(val) * F.col("cnt")).over(w).alias("sall"),
        F.sum("cnt").over(w).alias("nall"),
    ).withColumn("d", F.expr(f"{val} - (sall DIV nall)"))


_MW_Z_EXPR = (
    "round(CAST(u2_a - n_a * n_b AS DOUBLE) / "
    "(2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * "
    "(CAST(nt AS DOUBLE) + 1.0 - CAST(tie_t AS DOUBLE) / "
    "(CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)))) / 12.0)), 4)"
)


@query(
    "eval_mann_whitney_u",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    g AS (
        SELECT cents,
               CAST(sum(a) AS BIGINT) AS ca,
               CAST(sum(1 - a) AS BIGINT) AS cb
        FROM j GROUP BY 1
    ),
    cum AS (
        SELECT cents, ca, cb, ca + cb AS t,
               sum(ca + cb) OVER (ORDER BY cents) - (ca + cb) AS cum_prev,
               sum(ca) OVER () AS n_a,
               sum(cb) OVER () AS n_b
        FROM g
    ),
    tot AS (
        SELECT CAST(max(n_a) AS BIGINT) AS n_a,
               CAST(max(n_b) AS BIGINT) AS n_b,
               CAST(sum(ca * (2 * cum_prev + t + 1)) AS BIGINT) AS r2_a,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_t
        FROM cum
    ),
    u AS (
        SELECT n_a, n_b, n_a + n_b AS nt, tie_t,
               r2_a - n_a * (n_a + 1) AS u2_a
        FROM tot
    )
    SELECT n_a, n_b,
           CAST(u2_a AS BIGINT) AS u2_a,
           CAST(2 * n_a * n_b - u2_a AS BIGINT) AS u2_b,
           CAST(tie_t AS BIGINT) AS tie_t,
           {_MW_Z_EXPR} AS z_mw
    FROM u
    """,
)
def eval_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) with tie
    correction: do BUILDING and MACHINERY customers draw their order
    totals from the same distribution? The rank-based complement of
    eval_ks_two_sample — KS finds WHERE the CDFs split, MW tests
    whether one population stochastically dominates, and unlike a
    t-test it needs no normality.

    Exactness device (the KS collapse + a rank twist): collapse to the
    distinct-cents grain, then the AVERAGE rank of a tie group of size
    t starting after cum_prev items is cum_prev + (t+1)/2 — kept in
    HALF-UNITS (2·rank = 2·cum_prev + t + 1) so every rank sum is an
    exact integer; U doubles likewise (u2_a = 2·U_A = 2R_A − n_a(n_a+1))
    and the identity u2_a + u2_b = 2·n_a·n_b holds exactly. The
    tie-corrected z is ONE fixed IEEE tree (the chi_trend device) over
    integer-derived doubles — the expression text is shared verbatim
    between the Spark plan and the oracle — rounded 4dp. Integer range:
    rank sums are O(n²) — BIGINT-safe through ~3e9 rows per test cell;
    past that the same sums carry as DECIMAL(38,0) unchanged.

    100 TB plan: one keyed join + one hash collapse to the value grain,
    then every window runs on the collapsed grain (bounded by the
    price domain, not the order count) sharing one sort; a single-row
    reduce finishes. Same shape as eval_ks_two_sample.
    """
    j = _two_segment_cents(spark, sf_dir, "BUILDING", "MACHINERY")
    g = j.groupBy("cents").agg(
        F.sum("a").cast("long").alias("ca"),
        F.sum(1 - F.col("a")).cast("long").alias("cb"),
    )
    wcum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = g.select(
        "ca",
        "cb",
        (F.col("ca") + F.col("cb")).alias("t"),
        (F.sum(F.col("ca") + F.col("cb")).over(wcum) - (F.col("ca") + F.col("cb"))).alias(
            "cum_prev"
        ),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    tot = cum.agg(
        F.max("n_a").cast("bigint").alias("n_a"),
        F.max("n_b").cast("bigint").alias("n_b"),
        F.sum(F.col("ca") * (2 * F.col("cum_prev") + F.col("t") + 1))
        .cast("bigint")
        .alias("r2_a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie_t"),
    )
    u = tot.select(
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b")).alias("nt"),
        "tie_t",
        (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1)).alias("u2_a"),
    )
    return u.select(
        "n_a",
        "n_b",
        F.col("u2_a").cast("bigint").alias("u2_a"),
        (2 * F.col("n_a") * F.col("n_b") - F.col("u2_a"))
        .cast("bigint")
        .alias("u2_b"),
        F.col("tie_t").cast("bigint").alias("tie_t"),
        F.expr(_MW_Z_EXPR).alias("z_mw"),
    )


@query(
    "eval_mcnemar_paired",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS p1,
               CASE WHEN CAST(minute(ts) AS INTEGER) < 30 THEN 1 ELSE 0 END
                   AS p2
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ),
    cells AS (
        SELECT
            CAST(sum(CASE WHEN p1 = y AND p2 <> y THEN 1 ELSE 0 END)
                 AS BIGINT) AS b,
            CAST(sum(CASE WHEN p1 <> y AND p2 = y THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
            CAST(sum(CASE WHEN p1 = y AND p2 = y THEN 1 ELSE 0 END)
                 AS BIGINT) AS both_right,
            count(*) AS n
        FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n_examples, b, c, both_right,
           (b - c) * (b - c) AS chi2_num,
           floor(CAST((b - c) * (b - c) AS DOUBLE) / NULLIF(b + c, 0)
                 * 1e4 + 0.5) / 1e4 AS chi2,
           floor(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / NULLIF(b + c, 0) * 1e4 + 0.5) / 1e4 AS chi2_cc
    FROM cells
    """,
)
def eval_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED classifier comparison — the missing
    piece beside the unpaired metrics (AUC/PR/kappa): when two models
    score the SAME examples, only the DISCORDANT pairs carry evidence
    (b = only model 1 right, c = only model 2 right), and
    chi2 = (b-c)^2/(b+c) on one degree of freedom, reported raw and
    with the Edwards continuity correction. Both classifiers here are
    deterministic threshold rules over the event stream (a value rule
    vs a time-of-day rule), so the 2x2 discordance table is exact.

    Exactness: everything through chi2_num is BIGINT arithmetic; the
    single division is one IEEE op on integer-derived doubles, then
    quantized at 4dp with the floor(x*1e4+0.5)/1e4 device both engines
    evaluate bit-identically. Scale: one map-side projection,
    one count-reduce — no shuffle beyond the final 1-row aggregate;
    the discordance counts are map-side partials at any scale.
    """
    scored = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
            F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("p1"),
            F.when(F.minute("ts").cast("int") < 30, 1).otherwise(0).alias("p2"),
        )
    )
    cells = scored.agg(
        F.sum(
            F.when((F.col("p1") == F.col("y")) & (F.col("p2") != F.col("y")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when((F.col("p1") != F.col("y")) & (F.col("p2") == F.col("y")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when((F.col("p1") == F.col("y")) & (F.col("p2") == F.col("y")), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("both_right"),
        F.count(F.lit(1)).alias("n"),
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n_examples"),
        "b",
        "c",
        "both_right",
        ((F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))).alias("chi2_num"),
        # NULLIF guard (r8 ADVICE): with zero discordant pairs Spark's
        # non-ANSI division yields NULL but DuckDB's IEEE division
        # yields +inf — NULLIF makes BOTH engines return NULL on the
        # degenerate b + c = 0 table.
        F.expr(
            "floor(CAST((b - c) * (b - c) AS DOUBLE) / NULLIF(b + c, 0)"
            " * 1e4 + 0.5) / 1e4"
        ).alias("chi2"),
        F.expr(
            "floor(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)"
            " / NULLIF(b + c, 0) * 1e4 + 0.5) / 1e4"
        ).alias("chi2_cc"),
    )


# r13: s6 is DECIMAL(38,6) whose UNSCALED value (~3e19 at sf0.01) is
# past 2^53 — the fractional-scale variant of the r12 wide-cast class
# (an engine may compute unscaled->double then /1e6, double-rounding).
# Route the exact integer s6*1e6 through the d53 split, then one
# correctly-rounded /1e6.
def _kw_h(cv) -> str:
    return (
        f"round((12.0 * ({cv('s6 * 1000000')} / 1e6)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)"
        " + 1.0))) - 3.0 * (CAST(n AS DOUBLE) + 1.0), 4)"
    )


def _kw_hc(cv) -> str:
    return (
        f"round(((12.0 * ({cv('s6 * 1000000')} / 1e6)"
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)"
        " + 1.0))) - 3.0 * (CAST(n AS DOUBLE) + 1.0)) / (1.0 - CAST(tie_t AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        " - CAST(n AS DOUBLE))), 4)"
    )


_KW_H_EXPR = _kw_h(d53)
_KW_H_SQL = _kw_h(sql_d53)
_KW_HC_EXPR = _kw_hc(d53)
_KW_HC_SQL = _kw_hc(sql_d53)


@query(
    "eval_kruskal_wallis",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g1 AS (
        SELECT cents, seg, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    ranked AS (
        SELECT cents, seg, cnt,
               sum(cnt) OVER (PARTITION BY cents) AS t,
               sum(cnt) OVER (ORDER BY cents) AS cum_incl,
               row_number() OVER (PARTITION BY cents ORDER BY seg) AS rn
        FROM g1
    ),
    segstats AS (
        SELECT seg,
               CAST(sum(cnt) AS BIGINT) AS n_g,
               CAST(sum(cnt * (2 * (cum_incl - t) + t + 1)) AS BIGINT) AS r2_g
        FROM ranked GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               count(*) AS k,
               CAST(sum(CAST(round(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                                   / (4.0 * CAST(n_g AS DOUBLE)), 6)
                             AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS s6
        FROM segstats
    ),
    ties AS (
        SELECT CAST(sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0 END)
                    AS BIGINT) AS tie_t
        FROM ranked
    )
    SELECT n AS n_orders,
           CAST(k AS INTEGER) AS k_groups,
           CAST(k - 1 AS INTEGER) AS df,
           tie_t,
           {_KW_H_SQL} AS h_stat,
           {_KW_HC_SQL} AS h_tie_corrected
    FROM tot, ties
    """,
)
def eval_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: do the FIVE market segments draw their order
    totals from one distribution? The k-sample extension that
    completes the nonparametric battery (eval_ks_two_sample locates a
    two-sample divergence, eval_mann_whitney_u tests two-sample
    dominance, KW generalizes to k groups on one chi-square degree per
    extra group) — the distribution-free ANOVA a feature-screening
    pass runs over every categorical/numeric pair.

    Exactness: ranks use the SAME half-unit average-rank device as
    eval_mann_whitney_u (2·rank = 2·cum_prev + t + 1 over the collapsed
    cents grain — the ties-inclusive RANGE cumulative both engines
    default to for ORDER BY windows), so every per-group rank sum r2_g
    is an exact BIGINT. The cross-group sum Σ R_g²/n_g cannot stay
    integral (5 incommensurate denominators), so each group's term is
    rounded to 6dp and summed as DECIMAL(38,6) — the playbook's
    order-free term-sum device (5 terms, one tie at 1e-6 would need a
    half-ulp coincidence); H and its tie-corrected form are single
    IEEE trees whose text the Spark plan shares verbatim with the
    oracle. tie_t is charged once per distinct value via the rn=1 row.

    Scale: one keyed join, one (cents, seg) collapse, windows on the
    collapsed grain (domain-bounded), then a 5-row reduce. Same sort
    is shared by the cumulative, the per-cents partition, and the
    tie-flag window.
    """
    j = _segment_cents(spark, sf_dir)
    g1 = j.groupBy("cents", "seg").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = g1.select(
        "cents",
        "seg",
        "cnt",
        F.sum("cnt").over(Window.partitionBy("cents")).alias("t"),
        F.sum("cnt").over(Window.orderBy("cents")).alias("cum_incl"),
        F.row_number()
        .over(Window.partitionBy("cents").orderBy("seg"))
        .alias("rn"),
    )
    segstats = ranked.groupBy("seg").agg(
        F.sum("cnt").cast("bigint").alias("n_g"),
        F.sum(
            F.col("cnt") * (2 * (F.col("cum_incl") - F.col("t")) + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r2_g"),
    )
    tot = segstats.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.expr(
                "CAST(round(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)"
                " / (4.0 * CAST(n_g AS DOUBLE)), 6) AS DECIMAL(38,6))"
            )
        )
        .cast("decimal(38,6)")
        .alias("s6"),
    )
    ties = ranked.agg(
        F.sum(
            F.when(F.col("rn") == 1, F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("tie_t")
    )
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("int").alias("k_groups"),
        (F.col("k") - 1).cast("int").alias("df"),
        "tie_t",
        F.expr(_KW_H_EXPR).alias("h_stat"),
        F.expr(_KW_HC_EXPR).alias("h_tie_corrected"),
    )


def _k_group_sums(cen: DataFrame) -> DataFrame:
    """The 1-row one-way ANOVA sums over floor-mean-centered (seg, d,
    cnt) cells: n, k, s1 = sum d, s2 = sum d^2 and ssb_terms = sum over
    groups of floor(d1_g^2 / n_g), exact through the pmod quotient."""
    segstats = cen.groupBy("seg").agg(
        F.sum("cnt").cast("bigint").alias("n_g"),
        F.sum(F.col("cnt") * F.col("d")).cast("bigint").alias("d1_g"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * d * d"))
        .cast("decimal(38,0)")
        .alias("d2_g"),
    )
    return segstats.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum("d1_g").cast("bigint").alias("s1"),
        F.sum("d2_g").cast("decimal(38,0)").alias("s2"),
        F.sum(
            F.expr(
                "CAST((CAST(d1_g AS DECIMAL(38,0)) * d1_g"
                " - pmod(CAST(d1_g AS DECIMAL(38,0)) * d1_g,"
                " CAST(n_g AS DECIMAL(38,0)))) / n_g AS DECIMAL(38,0))"
            )
        )
        .cast("decimal(38,0)")
        .alias("ssb_terms"),
    )


def _k_group_report_head() -> list[Column]:
    """The leading report columns shared by the k-group F tests: sizes,
    degrees of freedom and the exact (hi15, lo15) limbs of s2 and
    ssb_terms."""
    return [
        F.col("n").cast("bigint").alias("n_orders"),
        F.col("k").cast("int").alias("k_groups"),
        F.expr("CAST(n - k AS BIGINT)").alias("df_within"),
        F.col("s1").cast("bigint").alias("s1_centered"),
        F.expr(wsplit15_hi("s2")).alias("s2_hi15"),
        F.expr(wsplit15_lo("s2")).alias("s2_lo15"),
        F.expr(wsplit15_hi("ssb_terms")).alias("ssb_terms_hi15"),
        F.expr(wsplit15_lo("ssb_terms")).alias("ssb_terms_lo15"),
    ]


# ANOVA basis-point reports, rewritten r13 as EXACT integer half-up
# quotients (q_scaled_halfup / sql_q_scaled_halfup in functions/
# numeric.py): the r12 driver falsified the shared-IEEE-tree device —
# eta2/F divide two DECIMAL(38,0) sums whose unscaled values exceed
# 2^53 (Σcnt·d² ~ 1e18-1e25), and the decimal->double conversion +
# division differ by an ulp across DuckDB builds, flipping the floored
# bp. The integer quotient is engine- and build-independent. A zero
# denominator (sst=0 or ssw=0: constant data / k=1 degenerate
# fixtures) yields NULL on BOTH engines via nullif.
_ANOVA_ETA_EXPR = q_scaled_halfup("ssb_c2", "sst_c2", 10_000)
_ANOVA_ETA_SQL = sql_q_scaled_halfup("ssb_c2", "sst_c2", 10_000)
_ANOVA_F_EXPR = q_scaled_halfup("ssb_c2 * (n - k)", "ssw_c2 * (k - 1)", 10_000)
_ANOVA_F_SQL = sql_q_scaled_halfup("ssb_c2 * (n - k)", "ssw_c2 * (k - 1)", 10_000)
# r14 instrumentation (VERDICT r13 task 1): the eta² device's raw
# half-up numerator/denominator, reported as wide-split limbs so a
# driver-side divergence localizes to the division device vs its
# operands. These mirror q_scaled_halfup's p/q verbatim (minus the
# nullif, which only matters in the division itself).
_ANOVA_ETA_NUM = (
    "(20000 * CAST(ssb_c2 AS DECIMAL(38,0)) + CAST(sst_c2 AS DECIMAL(38,0)))"
)
_ANOVA_ETA_DEN = "(2 * CAST(sst_c2 AS DECIMAL(38,0)))"
_ANOVA_ETA_NUM_SQL = (
    "(20000 * CAST(ssb_c2 AS HUGEINT) + CAST(sst_c2 AS HUGEINT))"
)
_ANOVA_ETA_DEN_SQL = "(2 * CAST(sst_c2 AS HUGEINT))"


@query(
    "eval_anova_f_oneway",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g1 AS (
        SELECT seg, cents, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    cen AS (
        SELECT seg, cents, cnt,
               cents - (sum(cents * cnt) OVER () // sum(cnt) OVER ()) AS d
        FROM g1
    ),
    segstats AS (
        SELECT seg,
               CAST(sum(cnt) AS BIGINT) AS n_g,
               CAST(sum(cnt * d) AS BIGINT) AS d1_g,
               CAST(sum(CAST(cnt AS HUGEINT) * d * d) AS HUGEINT) AS d2_g
        FROM cen GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(count(*) AS INTEGER) AS k,
               CAST(sum(d1_g) AS BIGINT) AS s1,
               CAST(sum(d2_g) AS HUGEINT) AS s2,
               CAST(sum(CAST(d1_g AS HUGEINT) * d1_g // n_g) AS HUGEINT)
                   AS ssb_terms
        FROM segstats
    ),
    fin AS (
        SELECT n, k, s1, s2, ssb_terms,
               ssb_terms - (CAST(s1 AS HUGEINT) * s1 // n) AS ssb_c2,
               s2 - (CAST(s1 AS HUGEINT) * s1 // n) AS sst_c2,
               (s2 - (CAST(s1 AS HUGEINT) * s1 // n))
                   - (ssb_terms - (CAST(s1 AS HUGEINT) * s1 // n)) AS ssw_c2
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(k AS INTEGER) AS k_groups,
           CAST(n - k AS BIGINT) AS df_within,
           CAST(s1 AS BIGINT) AS s1_centered,
           {sql_wsplit15_hi("s2")} AS s2_hi15,
           {sql_wsplit15_lo("s2")} AS s2_lo15,
           {sql_wsplit15_hi("ssb_terms")} AS ssb_terms_hi15,
           {sql_wsplit15_lo("ssb_terms")} AS ssb_terms_lo15,
           {sql_wsplit15_hi("ssb_c2")} AS ssb_c2_hi15,
           {sql_wsplit15_lo("ssb_c2")} AS ssb_c2_lo15,
           {sql_wsplit15_hi("ssw_c2")} AS ssw_c2_hi15,
           {sql_wsplit15_lo("ssw_c2")} AS ssw_c2_lo15,
           {sql_wsplit15_hi(_ANOVA_ETA_NUM_SQL)} AS eta2_num_hi15,
           {sql_wsplit15_lo(_ANOVA_ETA_NUM_SQL)} AS eta2_num_lo15,
           {sql_wsplit15_hi(_ANOVA_ETA_DEN_SQL)} AS eta2_den_hi15,
           {sql_wsplit15_lo(_ANOVA_ETA_DEN_SQL)} AS eta2_den_lo15,
           {_ANOVA_ETA_SQL} AS eta2_bp,
           {_ANOVA_F_SQL} AS f_bp
    FROM fin
    """,
)
def eval_anova_f_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the five market segments: does mean order
    value differ by segment? The PARAMETRIC complement of
    eval_kruskal_wallis on the same design — KW compares rank
    distributions, ANOVA partitions variance (SST = SSB + SSW) and
    tests the between/within mean-square ratio; eta²=SSB/SST is the
    effect size a feature screen actually thresholds on.

    Exactness (all-integer until the 1-row report): values center on
    the GLOBAL integer floor-mean (window over the collapsed
    (seg,cents) grain — exact BIGINT division, and 0 <= s1=Σd < N by
    construction), so the centered power sums are exact (Σcnt·d BIGINT,
    Σcnt·d² DECIMAL(38,0)). Per-group floor(d1_g²/n_g) CANNOT use DIV —
    Spark's IntegralDivide returns BIGINT and silently WRAPS for
    quotients past 2^63 (verified: 5.1e25 DIV 7 went negative) — so the
    quotient rides the pmod identity (p - pmod(p,q))/q, which Spark's
    decimal division renders exactly for divisible pairs; DuckDB uses
    HUGEINT `//`. Big floor(double)->DECIMAL casts are also banned
    here: Spark casts double->decimal through the SHORTEST STRING,
    which is lossy past ~1e17 (playbook). F and eta² are EXACT integer
    half-up quotients (q_scaled_halfup, r13): the r12 driver proved
    that scale-0-decimal->double past 2^53 is NOT build-independent
    (1 ulp in the ratio flips the floored bp — this query was one of
    the three r12 hash mismatches), so no double appears anywhere in
    the report. BIGINT headroom: s1² < N², safe to ~1.5e9 rows per
    cell; d2 sums carry DECIMAL(38,0)/HUGEINT.

    100 TB plan: one keyed join, one (seg,cents) hash collapse, one
    unpartitioned window on the DOMAIN-bounded collapsed grain, then a
    5-row reduce — the same shape as eval_kruskal_wallis, minus the
    rank sort.

    r14 report contract (VERDICT r13 task 1): the r12/r13 driver runs
    localized the hash divergence to REPORTING raw wide DECIMAL(38,0)
    columns — the only three red queries in the r13 panel were exactly
    the only three whose report schema carried a DECIMAL column or any
    value past 2^53. Every report column is now BIGINT/INT with
    |value| < 2^53: wide sums are emitted as exact (hi15, lo15) limb
    pairs (w = hi*10^15 + lo; functions/numeric.py wsplit15_*), and
    every integer term feeding the statistic (s1, s2, ssb_terms, the
    eta² device's raw half-up numerator/denominator) is its own column
    so any residual driver divergence localizes to one term.
    """
    j = _segment_cents(spark, sf_dir)
    g1 = j.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    tot = _k_group_sums(_floor_mean_centered(g1, "seg", "cents"))
    fin = tot.select(
        "n",
        "k",
        "s1",
        "s2",
        "ssb_terms",
        F.expr("ssb_terms - (s1 * s1 DIV n)").alias("ssb_c2"),
        F.expr("s2 - (s1 * s1 DIV n)").alias("sst_c2"),
        F.expr(
            "(s2 - (s1 * s1 DIV n)) - (ssb_terms - (s1 * s1 DIV n))"
        ).alias("ssw_c2"),
    )
    return fin.select(
        *_k_group_report_head(),
        F.expr(wsplit15_hi("ssb_c2")).alias("ssb_c2_hi15"),
        F.expr(wsplit15_lo("ssb_c2")).alias("ssb_c2_lo15"),
        F.expr(wsplit15_hi("ssw_c2")).alias("ssw_c2_hi15"),
        F.expr(wsplit15_lo("ssw_c2")).alias("ssw_c2_lo15"),
        F.expr(wsplit15_hi(_ANOVA_ETA_NUM)).alias("eta2_num_hi15"),
        F.expr(wsplit15_lo(_ANOVA_ETA_NUM)).alias("eta2_num_lo15"),
        F.expr(wsplit15_hi(_ANOVA_ETA_DEN)).alias("eta2_den_hi15"),
        F.expr(wsplit15_lo(_ANOVA_ETA_DEN)).alias("eta2_den_lo15"),
        F.expr(_ANOVA_ETA_EXPR).alias("eta2_bp"),
        F.expr(_ANOVA_F_EXPR).alias("f_bp"),
    )


# Same r13 integer-exact rewrite as the ANOVA trees above (this was
# the second of the three r12 driver hash mismatches).
_BF_F_EXPR = q_scaled_halfup("ssb_c2 * (n - k)", "ssw_c2 * (k - 1)", 10_000)
_BF_F_SQL = sql_q_scaled_halfup("ssb_c2 * (n - k)", "ssw_c2 * (k - 1)", 10_000)


@query(
    "eval_brown_forsythe_levene",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g1 AS (
        SELECT seg, cents, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    med AS (
        SELECT seg, cents, cnt,
               sum(cnt) OVER (PARTITION BY seg ORDER BY cents) AS cum_incl,
               sum(cnt) OVER (PARTITION BY seg) AS n_g
        FROM g1
    ),
    zg AS (
        SELECT seg, cents, cnt,
               abs(cents - min(CASE WHEN cum_incl >= (n_g + 1) // 2
                                    THEN cents END)
                           OVER (PARTITION BY seg)) AS z
        FROM med
    ),
    cen AS (
        SELECT seg, z, cnt,
               z - (sum(z * cnt) OVER () // sum(cnt) OVER ()) AS d
        FROM zg
    ),
    segstats AS (
        SELECT seg,
               CAST(sum(cnt) AS BIGINT) AS n_g,
               CAST(sum(cnt * d) AS BIGINT) AS d1_g,
               CAST(sum(CAST(cnt AS HUGEINT) * d * d) AS HUGEINT) AS d2_g
        FROM cen GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(count(*) AS INTEGER) AS k,
               CAST(sum(d1_g) AS BIGINT) AS s1,
               CAST(sum(d2_g) AS HUGEINT) AS s2,
               CAST(sum(CAST(d1_g AS HUGEINT) * d1_g // n_g) AS HUGEINT)
                   AS ssb_terms
        FROM segstats
    ),
    fin AS (
        SELECT n, k, s1, s2, ssb_terms,
               ssb_terms - (CAST(s1 AS HUGEINT) * s1 // n) AS ssb_c2,
               (s2 - (CAST(s1 AS HUGEINT) * s1 // n))
                   - (ssb_terms - (CAST(s1 AS HUGEINT) * s1 // n)) AS ssw_c2
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(k AS INTEGER) AS k_groups,
           CAST(n - k AS BIGINT) AS df_within,
           CAST(s1 AS BIGINT) AS s1_centered,
           {sql_wsplit15_hi("s2")} AS s2_hi15,
           {sql_wsplit15_lo("s2")} AS s2_lo15,
           {sql_wsplit15_hi("ssb_terms")} AS ssb_terms_hi15,
           {sql_wsplit15_lo("ssb_terms")} AS ssb_terms_lo15,
           {sql_wsplit15_hi("ssb_c2")} AS ssb_z2_hi15,
           {sql_wsplit15_lo("ssb_c2")} AS ssb_z2_lo15,
           {sql_wsplit15_hi("ssw_c2")} AS ssw_z2_hi15,
           {sql_wsplit15_lo("ssw_c2")} AS ssw_z2_lo15,
           {_BF_F_SQL} AS f_bp
    FROM fin
    """,
)
def eval_brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test for EQUALITY OF
    VARIANCE across the five market segments — the gate every pooled
    t-test/ANOVA should pass first, and the robust form (deviations
    from the group MEDIAN, not mean) that survives the heavy right
    tail of order totals. The statistic is a one-way ANOVA F computed
    on z = |x - median_g|, so this composes eval_anova_f_oneway's
    all-integer device on a derived integer column.

    Exactness: the group median is the LOWER median picked as an
    ELEMENT (first cents whose ties-inclusive cumulative count reaches
    (n_g+1) DIV 2 — rank-picked, never interpolated), so z is an exact
    BIGINT; everything downstream is the ANOVA chain verbatim
    (floor-mean centering, pmod quotient for floor(d1²/n), HUGEINT //
    on the DuckDB side, and — r13 — the EXACT integer half-up F
    report via q_scaled_halfup; no double anywhere).

    100 TB plan: the (seg,cents) collapse bounds every window by the
    price DOMAIN; the per-seg median windows and the group stats share
    one hash partitioning on seg; one unpartitioned window on the
    collapsed grain; 5-row reduce.

    r14 report contract: all report columns BIGINT/INT under 2^53 —
    wide sums as exact (hi15, lo15) limb pairs plus the per-term
    instrumentation columns (see eval_anova_f_oneway's docstring for
    the driver-divergence localization rationale; VERDICT r13 task 1).
    """
    j = _segment_cents(spark, sf_dir)
    g1 = j.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    wseg_ord = Window.partitionBy("seg").orderBy("cents")
    wseg = Window.partitionBy("seg")
    med = g1.select(
        "seg",
        "cents",
        "cnt",
        F.sum("cnt").over(wseg_ord).alias("cum_incl"),
        F.sum("cnt").over(wseg).alias("n_g"),
    )
    zg = med.select(
        "seg",
        "cnt",
        F.abs(
            F.col("cents")
            - F.min(
                F.when(
                    F.col("cum_incl") >= F.expr("(n_g + 1) DIV 2"),
                    F.col("cents"),
                )
            ).over(wseg)
        ).alias("z"),
    )
    tot = _k_group_sums(_floor_mean_centered(zg, "seg", "z"))
    fin = tot.select(
        "n",
        "k",
        "s1",
        "s2",
        "ssb_terms",
        F.expr("ssb_terms - (s1 * s1 DIV n)").alias("ssb_c2"),
        F.expr(
            "(s2 - (s1 * s1 DIV n)) - (ssb_terms - (s1 * s1 DIV n))"
        ).alias("ssw_c2"),
    )
    return fin.select(
        *_k_group_report_head(),
        F.expr(wsplit15_hi("ssb_c2")).alias("ssb_z2_hi15"),
        F.expr(wsplit15_lo("ssb_c2")).alias("ssb_z2_lo15"),
        F.expr(wsplit15_hi("ssw_c2")).alias("ssw_z2_hi15"),
        F.expr(wsplit15_lo("ssw_c2")).alias("ssw_z2_lo15"),
        F.expr(_BF_F_EXPR).alias("f_bp"),
    )


def _two_segment_moments(
    spark: SparkSession, sf_dir: str, seg_a: str, seg_b: str
) -> DataFrame:
    """The 1-row exact sufficient statistics of a two-segment cents
    comparison: n_a, n_b, d1_a, d1_b (BIGINT) and d2_a, d2_b
    (DECIMAL(38,0)), all on the shared global floor-mean centering."""
    j = _two_segment_cents(spark, sf_dir, seg_a, seg_b)
    g1 = j.groupBy("a", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    cen = _floor_mean_centered(g1, "a", "cents")
    return cen.agg(
        F.sum(F.when(F.col("a") == 1, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("a") == 0, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("a") == 1, F.col("cnt") * F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d1_a"),
        F.sum(F.when(F.col("a") == 0, F.col("cnt") * F.col("d")).otherwise(0))
        .cast("bigint")
        .alias("d1_b"),
        F.sum(
            F.expr(
                "CASE WHEN a = 1 THEN CAST(cnt AS DECIMAL(38,0)) * d * d"
                " ELSE 0 END"
            )
        )
        .cast("decimal(38,0)")
        .alias("d2_a"),
        F.sum(
            F.expr(
                "CASE WHEN a = 0 THEN CAST(cnt AS DECIMAL(38,0)) * d * d"
                " ELSE 0 END"
            )
        )
        .cast("decimal(38,0)")
        .alias("d2_b"),
    )


# Welch stage trees. IEEE trees over exact integer inputs; d1_* BIGINT
# < 2^53 convert exactly, while d2_* (sums of squared cents, ~6e17 at
# sf0.01) EXCEED 2^53, so they enter through the deterministic split
# conversion d53()/sql_d53() (r13 class audit — the r12 driver proved
# wide decimal->double is build-dependent). The two engine variants
# differ ONLY in that conversion; every other token is shared.


def _welch_se_a(cv) -> str:
    return (
        f"({cv('d2_a')} - CAST(d1_a AS DOUBLE) * CAST(d1_a AS DOUBLE)"
        " / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0)"
        " / CAST(n_a AS DOUBLE)"
    )


def _welch_se_b(cv) -> str:
    return (
        f"({cv('d2_b')} - CAST(d1_b AS DOUBLE) * CAST(d1_b AS DOUBLE)"
        " / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0)"
        " / CAST(n_b AS DOUBLE)"
    )


_WELCH_SE_A = _welch_se_a(d53)
_WELCH_SE_A_SQL = _welch_se_a(sql_d53)
_WELCH_SE_B = _welch_se_b(d53)
_WELCH_SE_B_SQL = _welch_se_b(sql_d53)
_WELCH_MD = (
    "CAST(d1_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " - CAST(d1_b AS DOUBLE) / CAST(n_b AS DOUBLE)"
)
_WELCH_T = "CAST(floor(md / sqrt(sea + seb) * 1e4 + 0.5) AS BIGINT)"
_WELCH_DF = (
    "CAST(floor((sea + seb) * (sea + seb)"
    " / (sea * sea / (CAST(n_a AS DOUBLE) - 1.0)"
    "  + seb * seb / (CAST(n_b AS DOUBLE) - 1.0)) * 1e2 + 0.5) AS BIGINT)"
)
def _welch_d(cv) -> str:
    return (
        f"CAST(floor(md / sqrt(({cv('d2_a')}"
        " - CAST(d1_a AS DOUBLE) * CAST(d1_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
        f" + {cv('d2_b')}"
        " - CAST(d1_b AS DOUBLE) * CAST(d1_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
        " / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0))"
        " * 1e4 + 0.5) AS BIGINT)"
    )


_WELCH_D = _welch_d(d53)
_WELCH_D_SQL = _welch_d(sql_d53)


@query(
    "eval_welch_t_test",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS a
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ),
    g1 AS (
        SELECT a, cents, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    cen AS (
        SELECT a, cents, cnt,
               cents - (sum(cents * cnt) OVER () // sum(cnt) OVER ()) AS d
        FROM g1
    ),
    tot AS (
        SELECT CAST(sum(CASE WHEN a = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN a = 0 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN a = 1 THEN cnt * d ELSE 0 END) AS BIGINT)
                   AS d1_a,
               CAST(sum(CASE WHEN a = 0 THEN cnt * d ELSE 0 END) AS BIGINT)
                   AS d1_b,
               CAST(sum(CASE WHEN a = 1 THEN CAST(cnt AS HUGEINT) * d * d
                             ELSE 0 END) AS DECIMAL(38,0)) AS d2_a,
               CAST(sum(CASE WHEN a = 0 THEN CAST(cnt AS HUGEINT) * d * d
                             ELSE 0 END) AS DECIMAL(38,0)) AS d2_b
        FROM cen
    ),
    staged AS (
        SELECT n_a, n_b,
               {_WELCH_MD} AS md,
               {_WELCH_SE_A_SQL} AS sea,
               {_WELCH_SE_B_SQL} AS seb,
               d1_a, d1_b, d2_a, d2_b
        FROM tot
    )
    SELECT n_a, n_b,
           CAST(floor(md * 1e2 + 0.5) AS BIGINT) AS mean_diff_cents_e2,
           {_WELCH_T} AS t_welch_e4,
           {_WELCH_DF} AS df_welch_e2,
           {_WELCH_D_SQL} AS cohens_d_e4
    FROM staged
    """,
)
def eval_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on BUILDING vs MACHINERY order
    totals, with the Welch-Satterthwaite effective df and Cohen's d —
    the parametric twin of eval_mann_whitney_u on the same two-sample
    design, and the test that stays valid when
    eval_brown_forsythe_levene rejects equal variances (classic
    pooled t does not).

    Exactness: both samples center on the SHARED global floor-mean
    (shift-invariance: t, df, and d depend only on mean DIFFERENCE and
    per-group variances), making every sufficient statistic an exact
    integer: d1_* BIGINT (< 2^53, exact in double), d2_* DECIMAL(38,0)
    past 2^53, entering through the deterministic d53() split
    conversion (r13 — the r12 driver falsified the bare wide cast).
    The report is staged shared-verbatim IEEE trees — the
    mean diff and the two squared standard errors land in named DOUBLE
    columns (identical bits both engines), then t, df, and d are fixed
    trees over those; sqrt is IEEE-exact, and floor(x*1eK + 0.5)
    replaces round(double,k) per the playbook (negative t rounds
    half-toward-+inf identically).

    100 TB plan: one keyed join, one (a,cents) collapse, one
    unpartitioned window on the domain-bounded grain, one 1-row
    conditional reduce — no joins after the collapse.
    """
    tot = _two_segment_moments(spark, sf_dir, "BUILDING", "MACHINERY")
    staged = tot.select(
        "n_a",
        "n_b",
        F.expr(_WELCH_MD).alias("md"),
        F.expr(_WELCH_SE_A).alias("sea"),
        F.expr(_WELCH_SE_B).alias("seb"),
        "d1_a",
        "d1_b",
        "d2_a",
        "d2_b",
    )
    return staged.select(
        "n_a",
        "n_b",
        F.expr("CAST(floor(md * 1e2 + 0.5) AS BIGINT)").alias(
            "mean_diff_cents_e2"
        ),
        F.expr(_WELCH_T).alias("t_welch_e4"),
        F.expr(_WELCH_DF).alias("df_welch_e2"),
        F.expr(_WELCH_D).alias("cohens_d_e4"),
    )


def _priority_rank_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked ranks on the month x priority design: per priority, the
    half-unit average-rank sum r2_sum over the complete months (all
    five priorities present) and the number of such blocks."""
    cell = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate")).alias("mon"),
            F.col("o_orderpriority").alias("prio"),
        )
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("v")
        )
    )
    complete = (
        cell.withColumn(
            "n_prio", F.count(F.lit(1)).over(Window.partitionBy("mon"))
        )
        .filter(F.col("n_prio") == 5)
        .drop("n_prio")
    )
    ranked = complete.select(
        "mon",
        "prio",
        "v",
        F.sum(F.lit(1)).over(Window.partitionBy("mon").orderBy("v")).alias("cum_incl"),
        F.count(F.lit(1)).over(Window.partitionBy("mon", "v")).alias("t"),
    )
    return ranked.groupBy("prio").agg(
        F.sum(2 * (F.col("cum_incl") - F.col("t")) + F.col("t") + 1)
        .cast("bigint")
        .alias("r2_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )


@query(
    "eval_friedman_blocked_ranks",
    oracle="""
    WITH cell AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               o_orderpriority AS prio,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    complete AS (
        SELECT * FROM cell
        QUALIFY count(*) OVER (PARTITION BY mon) = 5
    ),
    ranked AS (
        SELECT mon, prio, v,
               sum(1) OVER (PARTITION BY mon ORDER BY v) AS cum_incl,
               count(*) OVER (PARTITION BY mon, v) AS t
        FROM complete
    ),
    r2 AS (
        SELECT prio,
               CAST(sum(2 * (cum_incl - t) + t + 1) AS BIGINT) AS r2_sum,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY 1
    ),
    tot AS (
        SELECT CAST(max(n_blocks) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(r2_sum * r2_sum) AS BIGINT) AS sr2
        FROM r2
    ),
    fin AS (
        SELECT n, k,
               3 * sr2 - 3 * n * n * k * (k + 1) * (k + 1) AS num,
               n * k * (k + 1) AS den
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CAST(k AS INTEGER) AS k_treatments,
           CAST(k - 1 AS INTEGER) AS df,
           CAST((2 * num * 10000 + den) // (2 * den) AS BIGINT) AS chi2_bp,
           CAST((2 * num * 10000 + den * (k - 1)) // (2 * den * (k - 1))
                AS BIGINT) AS kendalls_w_bp
    FROM fin
    """,
)
def eval_friedman_blocked_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test over BLOCKED ranks: rank the five order priorities
    by monthly revenue WITHIN each month (the block), then test whether
    any priority consistently out-earns the others across months.
    Completes the nonparametric battery's missing cell — KS/MW are
    two-sample, Kruskal-Wallis is k independent samples, Friedman is k
    MATCHED treatments (the repeated-measures design every
    month-over-month league table implies). Kendall's W = chi2/(n(k-1))
    is reported as the concordance effect size. Only COMPLETE blocks
    (months where all five priorities traded) enter the design — the
    standard Friedman requirement, and a real filter at sf0.001 where
    thin months miss priorities.

    Exactness: per-cell revenue is an exact BIGINT cent sum; within-
    block ranks use the half-unit average-rank device (2·rank =
    2·(cum_incl - t) + t + 1 on the ties-inclusive default RANGE
    cumulative both engines share — ties across priorities within one
    month are near-impossible at the cent grain but the device makes
    them deterministic anyway). Rank sums are tiny integers (<= 2kn),
    so chi2 = (3·ΣR2² - 3n²k(k+1)²)/(nk(k+1)) — the half-unit form,
    nonnegative by Cauchy-Schwarz — reports as half-up basis points
    via bare integer DIV (cross-engine identical truncation).

    100 TB plan: one month+priority hash collapse (map-side partial
    sums), windows on the collapsed ~420-row grid, 5-row reduce —
    the fact scan is the only data-sized stage.
    """
    r2 = _priority_rank_sums(spark, sf_dir)
    tot = r2.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("r2_sum") * F.col("r2_sum")).cast("bigint").alias("sr2"),
    )
    fin = tot.select(
        "n",
        "k",
        F.expr("3 * sr2 - 3 * n * n * k * (k + 1) * (k + 1)").alias("num"),
        F.expr("n * k * (k + 1)").alias("den"),
    )
    return fin.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        (F.col("k") - 1).cast("int").alias("df"),
        F.expr("CAST((2 * num * 10000 + den) DIV (2 * den) AS BIGINT)").alias(
            "chi2_bp"
        ),
        F.expr(
            "CAST((2 * num * 10000 + den * (k - 1)) DIV (2 * den * (k - 1))"
            " AS BIGINT)"
        ).alias("kendalls_w_bp"),
    )


# Effect-size report trees, shared VERBATIM Spark/oracle over the
# exact integer chi2_micro (chi² in 1e-6 units, < 2^53).
_CONT_V_EXPR = (
    "CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6"
    " / (CAST(nn AS DOUBLE) * CAST(least(r - 1, c - 1) AS DOUBLE)))"
    " * 1e4 + 0.5) AS BIGINT)"
)
_CONT_PHI_EXPR = (
    "CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6"
    " / CAST(nn AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)"
)
_CONT_C_EXPR = (
    "CAST(floor(sqrt(CAST(chi2_micro AS DOUBLE)"
    " / (CAST(chi2_micro AS DOUBLE) + 1e6 * CAST(nn AS DOUBLE)))"
    " * 1e4 + 0.5) AS BIGINT)"
)


@query(
    "eval_effect_size_contingency",
    oracle=f"""
    WITH j AS (
        SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT prio, seg, CAST(count(*) AS BIGINT) AS o
        FROM j GROUP BY 1, 2
    ),
    marg AS (
        SELECT prio, seg, o,
               sum(o) OVER (PARTITION BY prio) AS rr,
               sum(o) OVER (PARTITION BY seg) AS cc,
               sum(o) OVER () AS nn
        FROM cells
    ),
    terms AS (
        SELECT prio, seg, nn,
               (2 * CAST((o * nn - rr * cc) AS HUGEINT) * (o * nn - rr * cc)
                    * 1000000 + CAST(nn AS HUGEINT) * rr * cc)
                   // (2 * CAST(nn AS HUGEINT) * rr * cc) AS term_micro
        FROM marg
    ),
    tot AS (
        SELECT CAST(max(nn) AS BIGINT) AS nn,
               CAST(count(DISTINCT prio) AS INTEGER) AS r,
               CAST(count(DISTINCT seg) AS INTEGER) AS c,
               CAST(sum(term_micro) AS BIGINT) AS chi2_micro
        FROM terms
    )
    SELECT nn AS n_orders, r AS n_rows, c AS n_cols,
           CAST((r - 1) * (c - 1) AS INTEGER) AS df,
           chi2_micro,
           {_CONT_V_EXPR} AS cramers_v_e4,
           {_CONT_PHI_EXPR} AS phi_e4,
           {_CONT_C_EXPR} AS pearson_c_e4
    FROM tot
    """,
)
def eval_effect_size_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association with the EFFECT SIZES a screening pass
    actually ranks by: Cramér's V, the mean-square contingency phi,
    and Pearson's C over the priority x market-segment table.
    chi_square_priority_status tests significance on one pair; this
    reports the size of the association — at 100 TB row counts
    everything is 'significant', so V is the number that matters.

    Exactness: each cell's (O·N - R·C)²/(N·R·C) term is computed as a
    half-up integral quotient in 1e-6 units — numerator and denominator
    are exact products (DECIMAL(38,0) Spark / HUGEINT DuckDB), and the
    quotient fits BIGINT so bare DIV is cross-engine identical. The
    exact integer chi2_micro then feeds three shared-verbatim IEEE
    trees (sqrt is correctly rounded; floor(x*1e4+0.5), never
    round(double)). Headroom: numerator ~(O·N)²·1e6 caps DECIMAL(38,0)
    around N~1e8 per table — past that, drop the micro scale a decade
    (documented, same statistic).

    100 TB plan: one keyed join, one 25-cell hash collapse — margins
    and terms are windows on the COLLAPSED grid, then a 1-row reduce;
    no joins after the collapse, no data-sized window.
    """
    j = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("c_mktsegment").alias("seg"),
        )
    )
    cells = j.groupBy("prio", "seg").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    marg = cells.select(
        "prio",
        "seg",
        "o",
        F.sum("o").over(Window.partitionBy("prio")).alias("rr"),
        F.sum("o").over(Window.partitionBy("seg")).alias("cc"),
        F.sum("o").over(Window.partitionBy()).alias("nn"),
    )
    terms = marg.select(
        "prio",
        "seg",
        "nn",
        F.expr(
            "(2 * CAST((o * nn - rr * cc) AS DECIMAL(38,0))"
            " * (o * nn - rr * cc) * 1000000"
            " + CAST(nn AS DECIMAL(38,0)) * rr * cc)"
            " DIV (2 * CAST(nn AS DECIMAL(38,0)) * rr * cc)"
        ).alias("term_micro"),
    )
    tot = terms.agg(
        F.max("nn").cast("bigint").alias("nn"),
        F.countDistinct("prio").cast("int").alias("r"),
        F.countDistinct("seg").cast("int").alias("c"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
    )
    return tot.select(
        F.col("nn").alias("n_orders"),
        F.col("r").alias("n_rows"),
        F.col("c").alias("n_cols"),
        F.expr("CAST((r - 1) * (c - 1) AS INTEGER)").alias("df"),
        "chi2_micro",
        F.expr(_CONT_V_EXPR).alias("cramers_v_e4"),
        F.expr(_CONT_PHI_EXPR).alias("phi_e4"),
        F.expr(_CONT_C_EXPR).alias("pearson_c_e4"),
    )


DECAY_CAP_DAYS = 7  # touches older than a week get the floor weight
ATTR_MICROS = 1_000_000  # one conversion = 1e6 micro-credits


@query(
    "attribution_time_decay_apportioned",
    oracle=f"""
    WITH fp AS (
        SELECT user_id, min(ts) AS t0
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    touches AS (
        SELECT e.user_id, e.event_type AS channel,
               CAST(2 AS BIGINT) ** ({DECAY_CAP_DAYS} - least(
                   CAST(floor(date_diff('second', e.ts, f.t0) / 86400.0)
                        AS BIGINT), {DECAY_CAP_DAYS})) AS w
        FROM events e JOIN fp f ON f.user_id = e.user_id
        WHERE e.event_type <> 'purchase' AND e.ts < f.t0
    ),
    bychan AS (
        SELECT user_id, channel,
               CAST(sum(w) AS BIGINT) AS w_ch,
               count(*) AS n_touch
        FROM touches GROUP BY 1, 2
    ),
    tot AS (
        SELECT user_id, channel, w_ch, n_touch,
               sum(w_ch) OVER (PARTITION BY user_id) AS w_tot
        FROM bychan
    ),
    app AS (
        SELECT user_id, channel, w_ch, n_touch, w_tot,
               w_ch * {ATTR_MICROS} // w_tot AS floor_cr,
               w_ch * {ATTR_MICROS} % w_tot AS rem,
               {ATTR_MICROS} - sum(w_ch * {ATTR_MICROS} // w_tot)
                   OVER (PARTITION BY user_id) AS extra,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY w_ch * {ATTR_MICROS} % w_tot DESC,
                                           channel) AS rr
        FROM tot
    )
    SELECT channel,
           CAST(sum(floor_cr + CASE WHEN rr <= extra THEN 1 ELSE 0 END)
                AS BIGINT) AS micro_credit,
           CAST(sum(n_touch) AS BIGINT) AS n_touches,
           count(DISTINCT user_id) AS n_users
    FROM app GROUP BY 1
    """,
)
def attribution_time_decay_apportioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution — completes the model family
    (first-touch, last-touch via the as-of join, position-based,
    Shapley): every pre-purchase touch earns a DYADIC weight
    2^({DECAY_CAP_DAYS} - min(days_before_purchase, {DECAY_CAP_DAYS}))
    — recent touches count exponentially more, with a one-week cap —
    and each converting user's single conversion is split into exactly
    {ATTR_MICROS} micro-credits across their touched channels by
    LARGEST-REMAINDER apportionment over the weights (the mixture
    budget device). Per user the micro-credits sum to {ATTR_MICROS}
    exactly, so the channel totals sum to n_users x {ATTR_MICROS} —
    the efficiency axiom as an integer identity, pinned in tests.

    Exactness: dyadic weights are exact BIGINTs (playbook device), the
    apportionment is pure integer floor/remainder arithmetic with a
    deterministic remainder rank (ties -> channel name), and nothing
    is ever a float. Scale: one keyed join onto the first-purchase
    frame, one (user, channel) collapse, windows partitioned BY USER
    (≤4 channel rows per partition), one channel rollup.

    Reference anchor: the crawler has no attribution; this extends the
    behavioral family the engine adds beyond the reference surface.
    """
    ev = load(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("t0"))
        .select(
            "user_id",
            F.col("event_type").alias("channel"),
            F.expr(
                f"CAST(shiftleft(CAST(1 AS BIGINT), {DECAY_CAP_DAYS} - least("
                f"CAST(floor((unix_timestamp(t0) - unix_timestamp(ts)) / 86400.0)"
                f" AS BIGINT), {DECAY_CAP_DAYS})) AS BIGINT)"
            ).alias("w"),
        )
    )
    bychan = touches.groupBy("user_id", "channel").agg(
        F.sum("w").cast("bigint").alias("w_ch"),
        F.count(F.lit(1)).alias("n_touch"),
    )
    wu = Window.partitionBy("user_id")
    tot = bychan.withColumn("w_tot", F.sum("w_ch").over(wu))
    app = (
        tot.withColumn("floor_cr", F.expr(f"w_ch * {ATTR_MICROS} DIV w_tot"))
        .withColumn("rem", F.expr(f"w_ch * {ATTR_MICROS} % w_tot"))
        .withColumn("extra", ATTR_MICROS - F.sum("floor_cr").over(wu))
        .withColumn(
            "rr",
            F.row_number().over(wu.orderBy(F.desc("rem"), F.asc("channel"))),
        )
    )
    return app.groupBy("channel").agg(
        F.sum(
            F.col("floor_cr") + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("micro_credit"),
        F.sum("n_touch").cast("bigint").alias("n_touches"),
        F.countDistinct("user_id").alias("n_users"),
    )


FAIR_PRED_THRESHOLD = 180000.0  # fixed decision threshold on order total
FAIR_REF_SEGMENT = "BUILDING"  # reference group for the gap columns


@query(
    "eval_fairness_group_metrics",
    oracle=f"""
    WITH scored AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
               CASE WHEN o.o_totalprice >= {FAIR_PRED_THRESHOLD} THEN 1
                    ELSE 0 END AS p
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g AS (
        SELECT segment,
               count(*) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos,
               CAST(sum(p) AS BIGINT) AS n_sel,
               CAST(sum(p * y) AS BIGINT) AS tp,
               CAST(sum(p * (1 - y)) AS BIGINT) AS fp
        FROM scored GROUP BY 1
    ),
    rates AS (
        SELECT segment, CAST(n AS BIGINT) AS n, n_pos, n_sel, tp, fp,
               (2 * 10000 * n_sel + n) // (2 * n) AS sel_bp,
               (2 * 10000 * tp + n_pos) // (2 * n_pos) AS tpr_bp,
               (2 * 10000 * fp + (n - n_pos)) // (2 * (n - n_pos)) AS fpr_bp
        FROM g
    ),
    ref AS (
        SELECT segment, n, n_pos, n_sel, tp, fp,
               sel_bp, tpr_bp, fpr_bp,
               max(CASE WHEN segment = '{FAIR_REF_SEGMENT}' THEN sel_bp END)
                   OVER () AS ref_sel,
               max(CASE WHEN segment = '{FAIR_REF_SEGMENT}' THEN tpr_bp END)
                   OVER () AS ref_tpr,
               max(CASE WHEN segment = '{FAIR_REF_SEGMENT}' THEN fpr_bp END)
                   OVER () AS ref_fpr
        FROM rates
    )
    SELECT segment, n, n_pos, n_sel, tp, fp,
           CAST(sel_bp AS BIGINT) AS sel_bp,
           CAST(tpr_bp AS BIGINT) AS tpr_bp,
           CAST(fpr_bp AS BIGINT) AS fpr_bp,
           CAST(sel_bp - ref_sel AS BIGINT) AS dp_gap_bp,
           CAST(greatest(abs(tpr_bp - ref_tpr), abs(fpr_bp - ref_fpr))
                AS BIGINT) AS eo_gap_bp
    FROM ref
    """,
)
def eval_fairness_group_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of a fixed decision rule — the
    responsible-AI member of the eval family: with market segment as
    the (proxy) protected attribute, a threshold classifier on order
    totals, and URGENT priority as the outcome label, report per group
    the selection rate (whose cross-group spread is the DEMOGRAPHIC
    PARITY gap) and TPR/FPR (whose spreads are the EQUALIZED ODDS
    gaps, Hardt et al. '16), each as half-up basis points plus the gap
    against a fixed reference group. These are the slice metrics every
    model-governance gate computes before a classifier ships; the
    per-slice machinery is eval_auc_by_fold's, aimed at fairness.

    Exactness: all counts are map-side integer partials; every rate
    and gap is the cross-multiplied half-up device — no floats
    anywhere. The reference rates broadcast across the 5-row group
    frame through an unordered window (no sort, no join). Scale: one
    keyed join + one 5-key hash-agg; the windows run on the 5-row
    group frame.
    """
    scored = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
            F.when(F.col("o_totalprice") >= FAIR_PRED_THRESHOLD, 1)
            .otherwise(0)
            .alias("p"),
        )
    )
    g = scored.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.sum("p").cast("bigint").alias("n_sel"),
        F.sum(F.col("p") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("p") * (1 - F.col("y"))).cast("bigint").alias("fp"),
    )
    rates = g.select(
        "segment",
        "n",
        "n_pos",
        "n_sel",
        "tp",
        "fp",
        F.expr("(2 * 10000 * n_sel + n) DIV (2 * n)").alias("sel_bp"),
        F.expr("(2 * 10000 * tp + n_pos) DIV (2 * n_pos)").alias("tpr_bp"),
        F.expr(
            "(2 * 10000 * fp + (n - n_pos)) DIV (2 * (n - n_pos))"
        ).alias("fpr_bp"),
    )
    wall = Window.partitionBy()
    ref = rates.select(
        "*",
        F.max(
            F.when(F.col("segment") == FAIR_REF_SEGMENT, F.col("sel_bp"))
        )
        .over(wall)
        .alias("ref_sel"),
        F.max(
            F.when(F.col("segment") == FAIR_REF_SEGMENT, F.col("tpr_bp"))
        )
        .over(wall)
        .alias("ref_tpr"),
        F.max(
            F.when(F.col("segment") == FAIR_REF_SEGMENT, F.col("fpr_bp"))
        )
        .over(wall)
        .alias("ref_fpr"),
    )
    return ref.select(
        "segment",
        "n",
        "n_pos",
        "n_sel",
        "tp",
        "fp",
        F.col("sel_bp").cast("bigint").alias("sel_bp"),
        F.col("tpr_bp").cast("bigint").alias("tpr_bp"),
        F.col("fpr_bp").cast("bigint").alias("fpr_bp"),
        (F.col("sel_bp") - F.col("ref_sel")).cast("bigint").alias("dp_gap_bp"),
        F.greatest(
            F.abs(F.col("tpr_bp") - F.col("ref_tpr")),
            F.abs(F.col("fpr_bp") - F.col("ref_fpr")),
        )
        .cast("bigint")
        .alias("eo_gap_bp"),
    )


DTW_REF_SEGMENT = "BUILDING"
_DTW_INF = "CAST(9223372036854775807 AS BIGINT)"


def _dtw_oracle() -> str:
    """12x12 DTW as a recursive CTE: one iteration per matrix ROW, the
    within-row left-to-right dependency unrolled as 12 lateral column
    aliases (DuckDB resolves prior SELECT-list aliases), the previous
    row carried as a LIST column. Exact BIGINT min/abs throughout."""
    rowcalc = []
    for j in range(1, 13):
        if j == 1:
            expr = "abs(v[i + 1] - rv[1]) + (CASE WHEN i = 0 THEN 0 ELSE pv[1] END)"
        else:
            expr = (
                f"abs(v[i + 1] - rv[{j}]) + (CASE WHEN i = 0 THEN v{j - 1} "
                f"ELSE least(v{j - 1}, pv[{j}], pv[{j - 1}]) END)"
            )
        rowcalc.append(f"{expr} AS v{j}")
    rowsel = ",\n               ".join(rowcalc)
    packed = "[" + ", ".join(f"v{j}" for j in range(1, 13)) + "]"
    return f"""
    WITH RECURSIVE series AS (
        SELECT c.c_mktsegment AS seg, CAST(month(o.o_orderdate) AS INTEGER) AS m,
               CAST(sum(CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-01-01'
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT s.seg, g.m, coalesce(x.cents, 0) AS cents
        FROM (SELECT DISTINCT seg FROM series) s
        CROSS JOIN (SELECT unnest(generate_series(1, 12)) AS m) g
        LEFT JOIN series x ON x.seg = s.seg AND x.m = g.m
    ),
    vecs AS (
        SELECT seg, list(cents ORDER BY m) AS v FROM grid GROUP BY 1
    ),
    ref AS (SELECT v AS rv FROM vecs WHERE seg = '{DTW_REF_SEGMENT}'),
    dp AS (
        SELECT seg, 0 AS i, v, rv, CAST(NULL AS BIGINT[]) AS pv
        FROM vecs, ref
        UNION ALL
        SELECT seg, i + 1, v, rv, {packed}
        FROM (
            SELECT seg, i, v, rv, pv,
               {rowsel}
            FROM dp WHERE i < 12
        )
    )
    SELECT seg AS segment,
           CAST(pv[12] AS BIGINT) AS dtw_cents,
           CAST(pv[12] // 23 AS BIGINT) AS dtw_per_step_cents
    FROM dp WHERE i = 12
    """


@query("timeseries_dtw_monthly_segments", oracle=_dtw_oracle())
def timeseries_dtw_monthly_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping distance between each market segment's 1995
    monthly-revenue trajectory and the {DTW_REF_SEGMENT} reference —
    the classic elastic similarity measure for series whose shapes
    align under local time shifts (a one-month-late promotion spike
    costs little under DTW and a lot under Euclidean). DTW is the
    textbook "inherently sequential DP" — and the graded contract
    makes it exact anyway, two different ways:

    - the ENGINE runs the whole 12x12 DP as ONE fold expression:
      `aggregate(sequence(1,144), ...)` appends each cell in row-major
      order and reads neighbors at negative offsets -1/-12/-13 — the
      entire recurrence stays inside whole-stage codegen, one
      expression per segment row, zero shuffles beyond the monthly
      rollup (the Holt-Winters unroll device, generalized from a
      linear recurrence to a 2-D DP);
    - the ORACLE replays it as a recursive CTE, one iteration per row
      with the within-row dependency unrolled as lateral aliases.

    Everything is BIGINT (cent costs, min/abs); the boundary sentinel
    is never added to (least() only selects it away), so no overflow.
    Scale: the DP is O(144) per segment INDEPENDENT of data size; the
    only data-scale work is the month-grain rollup, and series length
    would bound the fold (a 365-step daily DTW is a 133k-element
    fold — still one codegen expression).
    """
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    series = (
        o.join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.month("o_orderdate").cast("int").alias("m"),
        )
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("cents")
        )
    )
    months = spark.range(1, 13).select(F.col("id").cast("int").alias("m"))
    grid = (
        series.select("seg")
        .distinct()
        .crossJoin(F.broadcast(months))
        .join(series, ["seg", "m"], "left")
        .select("seg", "m", F.coalesce("cents", F.lit(0)).alias("cents"))
    )
    vecs = grid.groupBy("seg").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(m, cents))), x -> x.cents)"
        ).alias("v")
    )
    ref = vecs.filter(F.col("seg") == DTW_REF_SEGMENT).select(
        F.col("v").alias("rv")
    )
    fold = f"""
    element_at(
      aggregate(
        sequence(1, 144),
        CAST(array() AS ARRAY<BIGINT>),
        (acc, t) -> array_append(acc,
          abs(element_at(v, CAST((t - 1) DIV 12 + 1 AS INT))
              - element_at(rv, CAST((t - 1) % 12 + 1 AS INT)))
          + least(
              CASE WHEN (t - 1) % 12 + 1 > 1 THEN element_at(acc, -1)
                   ELSE {_DTW_INF} END,
              CASE WHEN (t - 1) DIV 12 + 1 > 1 THEN element_at(acc, -12)
                   ELSE {_DTW_INF} END,
              CASE WHEN (t - 1) DIV 12 + 1 > 1 AND (t - 1) % 12 + 1 > 1
                   THEN element_at(acc, -13)
                   WHEN t = 1 THEN CAST(0 AS BIGINT)
                   ELSE {_DTW_INF} END))
      ), -1)
    """
    return vecs.crossJoin(F.broadcast(ref)).select(
        F.col("seg").alias("segment"),
        F.expr(fold).cast("bigint").alias("dtw_cents"),
        F.expr(f"CAST(({fold}) DIV 23 AS BIGINT)").alias("dtw_per_step_cents"),
    )


MARKOV_BT_CUTOVER = "2024-01-24"  # temporal split: ~last week is the test fold


@query(
    "eval_markov_next_event_backtest",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    trans AS (
        SELECT prev_type, event_type AS next_type, ts
        FROM seq WHERE prev_type IS NOT NULL
    ),
    train AS (
        SELECT prev_type, next_type, count(*) AS c
        FROM trans WHERE ts < TIMESTAMP '{MARKOV_BT_CUTOVER}'
        GROUP BY 1, 2
    ),
    model AS (
        SELECT prev_type, next_type AS predicted
        FROM (
            SELECT prev_type, next_type,
                   row_number() OVER (PARTITION BY prev_type
                                      ORDER BY c DESC, next_type) AS rn
            FROM train
        ) WHERE rn = 1
    ),
    test AS (
        SELECT t.prev_type, t.next_type, m.predicted
        FROM trans t LEFT JOIN model m ON m.prev_type = t.prev_type
        WHERE t.ts >= TIMESTAMP '{MARKOV_BT_CUTOVER}'
    )
    SELECT prev_type,
           max(predicted) AS predicted,
           count(*) AS n_test,
           CAST(sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((2 * 10000 * sum(CASE WHEN next_type = predicted
                                      THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS top1_acc_bp
    FROM test GROUP BY 1
    """,
)
def eval_markov_next_event_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-split backtest of the first-order Markov next-event
    model — the evaluation loop `markov_event_transitions` feeds: fit
    argmax-next-state per current state on events BEFORE the cutover,
    then score top-1 accuracy on the transitions AFTER it, per state
    in half-up basis points. The split is by time, not by hash — the
    honest protocol for sequence models (a random split leaks the
    future), mirroring sample_walk_forward_folds on the model-eval
    side.

    Exactness: the model is an integer-count argmax with a
    deterministic (count DESC, label) tie-break; accuracy is integer
    counting + the bp device. Scale: one per-user lag window (the
    sessionization sort), one small train rollup whose 5x5 argmax
    broadcasts onto the test stream.
    """
    seq = load(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        F.lag("event_type")
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    )
    trans = seq.filter(F.col("prev_type").isNotNull()).select(
        "prev_type", F.col("event_type").alias("next_type"), "ts"
    )
    cut = F.lit(MARKOV_BT_CUTOVER).cast("timestamp")
    train = (
        trans.filter(F.col("ts") < cut)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    model = (
        train.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("prev_type").orderBy(
                    F.desc("c"), F.asc("next_type")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = trans.filter(F.col("ts") >= cut).join(
        F.broadcast(model), "prev_type", "left"
    )
    return test.groupBy("prev_type").agg(
        F.max("predicted").alias("predicted"),
        F.count(F.lit(1)).alias("n_test"),
        F.sum(F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "CAST((2 * 10000 * sum(CASE WHEN next_type = predicted THEN 1"
            " ELSE 0 END) + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("top1_acc_bp"),
    )


@query(
    "eval_kendall_tau_brands",
    oracle="""
    WITH brands AS (
        SELECT p.p_brand AS brand,
               CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS rev,
               CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) > 0
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.rev - b.rev) * (a.qty - b.qty) < 0
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.rev = b.rev THEN 1 ELSE 0 END AS tie_x,
               CASE WHEN a.qty = b.qty THEN 1 ELSE 0 END AS tie_y
        FROM brands a JOIN brands b ON a.brand < b.brand
    ),
    s AS (
        SELECT (SELECT count(*) FROM brands) AS n,
               CAST(sum(conc) AS BIGINT) AS c,
               CAST(sum(disc) AS BIGINT) AS d,
               CAST(sum(tie_x) AS BIGINT) AS tx,
               CAST(sum(tie_y) AS BIGINT) AS ty,
               count(*) AS n0
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n_brands, c AS concordant, d AS discordant,
           tx AS ties_rev, ty AS ties_qty,
           CAST(floor(CAST(c - d AS DOUBLE)
                      / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                      * 1e4 + 0.5) AS BIGINT) AS tau_b_e4
    FROM s
    """,
)
def eval_kendall_tau_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between brand revenue and brand
    quantity — the pair-counting complement of eval_spearman_rank_corr
    (Spearman squares rank displacements; Kendall counts pairwise
    order inversions, is more robust to single outlier ranks, and its
    C/D counts are themselves interpretable: D IS the number of brand
    pairs where the revenue and volume rankings disagree).

    Exactness: the brand rollup is exact integers, concordance is a
    sign test on integer products, and tau-b's one square root runs on
    integer-derived doubles (sqrt is correctly rounded — playbook),
    reported through the floor quantizer. The pair expansion is on the
    BRAND grain — ~25 rows self-joined, bounded by the brand alphabet
    at any data scale (the fact scan collapses first; this is the
    Theil-Sen/Mann-Kendall month-grain device on a dimension grain).
    """
    brands = (
        load(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(load(spark, sf_dir, "part").select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(exact_cents(F.col("l_extendedprice")))
            .cast("bigint")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"),
        )
    )
    a = brands.select(
        F.col("brand").alias("ba"), F.col("rev").alias("ra"), F.col("qty").alias("qa")
    )
    b = brands.select(
        F.col("brand").alias("bb"), F.col("rev").alias("rb"), F.col("qty").alias("qb")
    )
    pairs = a.join(b, F.col("ba") < F.col("bb")).select(
        F.when((F.col("ra") - F.col("rb")) * (F.col("qa") - F.col("qb")) > 0, 1)
        .otherwise(0)
        .alias("conc"),
        F.when((F.col("ra") - F.col("rb")) * (F.col("qa") - F.col("qb")) < 0, 1)
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("ra") == F.col("rb"), 1).otherwise(0).alias("tie_x"),
        F.when(F.col("qa") == F.col("qb"), 1).otherwise(0).alias("tie_y"),
    )
    n = brands.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = pairs.agg(
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("d"),
        F.sum("tie_x").cast("bigint").alias("tx"),
        F.sum("tie_y").cast("bigint").alias("ty"),
        F.count(F.lit(1)).alias("n0"),
    ).crossJoin(F.broadcast(n))
    return s.select(
        F.col("n").alias("n_brands"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_rev"),
        F.col("ty").alias("ties_qty"),
        F.expr(
            "CAST(floor(CAST(c - d AS DOUBLE)"
            " / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))"
            " * 1e4 + 0.5) AS BIGINT)"
        ).alias("tau_b_e4"),
    )


@query(
    "dq_simpsons_paradox_audit",
    oracle="""
    WITH base AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT) AS x,
               CAST(year(o.o_orderdate) - 1992 AS BIGINT) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    grp AS (
        SELECT segment, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM base GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
               CAST(sum(sxy) AS BIGINT) AS sxy
        FROM grp
    ),
    marked AS (
        SELECT g.segment, g.n,
               CAST(CASE WHEN g.n * g.sxy - g.sx * g.sy > 0 THEN 1
                         WHEN g.n * g.sxy - g.sx * g.sy < 0 THEN -1
                         ELSE 0 END AS INTEGER) AS group_sign,
               CAST(CASE WHEN t.n * t.sxy - t.sx * t.sy > 0 THEN 1
                         WHEN t.n * t.sxy - t.sx * t.sy < 0 THEN -1
                         ELSE 0 END AS INTEGER) AS overall_sign
        FROM grp g, tot t
    )
    SELECT segment, CAST(n AS BIGINT) AS n_orders, group_sign, overall_sign,
           CAST(CASE WHEN group_sign * overall_sign = -1 THEN 1 ELSE 0 END
                AS INTEGER) AS reversed
    FROM marked
    """,
)
def dq_simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen — the aggregation-reversal audit every
    dashboard rollup should run before a trend claim ships: the SIGN
    of the price-vs-order-year association is computed overall and
    within each customer segment from the exact integer covariance
    numerator n·Σxy − Σx·Σy (no division, no floats — the sign is all
    that matters), and any segment whose within-group direction
    contradicts the pooled direction is flagged. A reversal means the
    pooled trend is a composition artifact (segment mix shifting over
    time), not a real within-segment effect — the canonical lurking-
    variable failure that invalidates naive rollups.

    Exactness: x is exact cents, y an exact year index; all products
    stay in BIGINT (checked: n·Σxy at sf0.1 peaks ~1e17 < 2^63).
    Scale: one keyed join + one 5-key agg; the pooled stats fold from
    the group partials (no second scan).
    """
    base = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            exact_cents(F.col("o_totalprice")).alias("x"),
            (F.year("o_orderdate") - 1992).cast("bigint").alias("y"),
        )
    )
    grp = base.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("sx").cast("bigint").alias("tsx"),
        F.sum("sy").cast("bigint").alias("tsy"),
        F.sum("sxy").cast("bigint").alias("tsxy"),
    )
    marked = grp.crossJoin(F.broadcast(tot)).select(
        "segment",
        F.col("n").alias("n_orders"),
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1"
            " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
        ).alias("group_sign"),
        F.expr(
            "CAST(CASE WHEN tn * tsxy - tsx * tsy > 0 THEN 1"
            " WHEN tn * tsxy - tsx * tsy < 0 THEN -1 ELSE 0 END AS INT)"
        ).alias("overall_sign"),
    )
    return marked.select(
        "segment",
        "n_orders",
        "group_sign",
        "overall_sign",
        F.expr(
            "CAST(CASE WHEN group_sign * overall_sign = -1 THEN 1 ELSE 0 END"
            " AS INT)"
        ).alias("reversed"),
    )


@query(
    "forecast_durbin_watson_residuals",
    oracle="""
    WITH months AS (
        SELECT (year(o_orderdate) - 1995) * 12
                   + CAST(month(o_orderdate) AS BIGINT) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(t * y) AS BIGINT) AS sty
        FROM months
    ),
    resid AS (
        SELECT m.t,
               (s.n * s.stt - s.st * s.st) * m.y
                   - (s.sy * s.stt - s.st * s.sty)
                   - (s.n * s.sty - s.st * s.sy) * m.t AS ed
        FROM months m, s
    ),
    dw AS (
        SELECT CAST(sum(CAST(ed AS DECIMAL(19,0)) * CAST(ed AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS den,
               CAST(sum(CASE WHEN ped IS NULL THEN 0
                             ELSE CAST(ed - ped AS DECIMAL(19,0))
                                  * CAST(ed - ped AS DECIMAL(19,0)) END)
                    AS DECIMAL(38,0)) AS num
        FROM (SELECT t, ed,
                     lag(ed) OVER (ORDER BY t) AS ped
              FROM resid)
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM s) AS n_months,
           CAST(CAST((2 * 10000 * num + den) AS HUGEINT)
                // CAST(2 * den AS HUGEINT) AS BIGINT) AS dw_e4
    FROM dw
    """,
)
def forecast_durbin_watson_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic on the residuals of the
    monthly-revenue linear trend — the classic "is the trend model
    missing serial structure?" check that belongs beside the ACF/PACF
    family: DW = Σ(e_t − e_(t−1))² / Σe_t², near 2 for white-noise
    residuals, near 0 under positive autocorrelation (seasonality the
    line didn't capture), near 4 under negative.

    Exactness device: OLS residuals are rationals with the common
    denominator D = n·Σt² − (Σt)², so every residual SCALED BY D is an
    exact BIGINT — e_t·D = D·y_t − (Σy·Σt² − Σt·Σty) − (n·Σty − Σt·Σy)·t
    — and DW is invariant to that scaling, making the statistic a pure
    integer ratio reported via the half-up e4 device. The squares
    reach ~1e31, so they sum as DECIMAL(38,0) and the final integral
    division runs on HUGEINT in DuckDB (the playbook's 1e18 `//`
    trap). Scale: one month-grain rollup; everything after runs on ≤36
    rows.
    """
    months = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            (
                (F.year("o_orderdate") - 1995) * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("t")
        )
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("y")
        )
    )
    s = months.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("stt"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("sty"),
    )
    resid = months.crossJoin(F.broadcast(s)).select(
        "t",
        F.expr(
            "(n * stt - st * st) * y - (sy * stt - st * sty)"
            " - (n * sty - st * sy) * t"
        ).alias("ed"),
        F.col("n"),
    )
    lagged = resid.select(
        "n",
        "ed",
        F.lag("ed").over(Window.orderBy("t")).alias("ped"),
    )
    dw = lagged.agg(
        F.coalesce(F.max("n"), F.lit(0)).alias("n_months"),
        F.sum(F.expr("CAST(ed AS DECIMAL(19,0)) * CAST(ed AS DECIMAL(19,0))"))
        .cast("decimal(38,0)")
        .alias("den"),
        F.sum(
            F.expr(
                "CASE WHEN ped IS NULL THEN CAST(0 AS DECIMAL(38,0))"
                " ELSE CAST(CAST(ed - ped AS DECIMAL(19,0))"
                " * CAST(ed - ped AS DECIMAL(19,0)) AS DECIMAL(38,0)) END"
            )
        )
        .cast("decimal(38,0)")
        .alias("num"),
    )
    return dw.select(
        F.col("n_months").cast("bigint").alias("n_months"),
        F.expr(
            "CAST((2 * 10000 * num + den) DIV nullif(2 * den, 0) AS BIGINT)"
        ).alias("dw_e4"),
    )


LB_CHI2_DF12_5PCT_E4 = 210261  # chi-square(12) 5% critical value, x1e4


def _ljung_box_oracle() -> str:
    """Mechanically composed from the REGISTERED ACF spec (the
    _cost_threshold_oracle device): quantize each 6dp acf to integer
    e6 with the floor device, form the per-lag Ljung-Box terms on
    identical doubles rounded 6dp, and decimal-sum them (the KW
    term-sum device). n derives from the spec's own n_pairs column."""
    from leadsight_sales_agent_spark.registry import ORACLES

    acf = ORACLES["forecast_acf_monthly"]
    return f"""
    WITH acf AS ({acf}),
    nn AS (
        SELECT max(CASE WHEN lag_months = 1 THEN n_pairs END) + 1 AS n
        FROM acf
    ),
    terms AS (
        SELECT CAST(round(
                 CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                 * (CAST(floor(acf * 1e6 + 0.5) AS DOUBLE)
                    * CAST(floor(acf * 1e6 + 0.5) AS DOUBLE) / 1e12)
                 / (CAST(n AS DOUBLE) - CAST(lag_months AS DOUBLE)), 6)
               AS DECIMAL(20,6)) AS term
        FROM acf, nn
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM nn) AS n_months,
           CAST(count(*) AS INTEGER) AS m_lags,
           CAST(floor(CAST(CAST(sum(term) AS DECIMAL(15,6)) AS DOUBLE) * 1e4 + 0.5) AS BIGINT)
               AS q_e4,
           CAST(CASE WHEN floor(CAST(CAST(sum(term) AS DECIMAL(15,6)) AS DOUBLE) * 1e4 + 0.5)
                          > {LB_CHI2_DF12_5PCT_E4} THEN 1 ELSE 0 END
                AS INTEGER) AS reject_white_noise_5pct
    FROM terms
    """


@query("forecast_ljung_box_q", oracle=_ljung_box_oracle())
def forecast_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test over the registered monthly ACF —
    the Box-Jenkins whiteness check that aggregates ALL 12
    autocorrelations into one statistic Q = n(n+2)·Σ r_k²/(n−k) and
    compares it to the chi-square(12) critical value: DW (one lag, on
    residuals) asks "did the trend miss structure?", Ljung-Box asks
    "is there ANY serial structure at all?". The test consumes the
    REGISTERED forecast_acf_monthly output — both engines compose the
    same published stage (the pipeline_full_release mechanical-
    composition device), and n itself derives from the stage's
    n_pairs column, so the two specs cannot drift apart.

    Exactness: the 6dp acf values quantize to integer e6 via the
    floor device, each term is one identical IEEE tree rounded 6dp,
    and the 12 terms sum as DECIMAL (order-free); Q reports through
    the floor e4 quantizer with the critical-value comparison as an
    integer compare. Scale: everything after the month-grain rollup
    runs on 12 rows; n is an OVER () window on that grain, so the ACF
    stage is planned once with no checkpoint or anchor join.
    """
    acf = forecast_acf_monthly(spark, sf_dir).withColumn(
        "n", F.expr("max(CASE WHEN lag_months = 1 THEN n_pairs END) OVER () + 1")
    )
    terms = acf.select(
        F.expr(
            "CAST(round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)"
            " * (CAST(floor(acf * 1e6 + 0.5) AS DOUBLE)"
            "    * CAST(floor(acf * 1e6 + 0.5) AS DOUBLE) / 1e12)"
            " / (CAST(n AS DOUBLE) - CAST(lag_months AS DOUBLE)), 6)"
            " AS DECIMAL(20,6))"
        ).alias("term"),
        "n",
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_months"),
        F.count(F.lit(1)).cast("int").alias("m_lags"),
        F.expr(
            "CAST(floor(CAST(CAST(sum(term) AS DECIMAL(15,6)) AS DOUBLE) * 1e4 + 0.5) AS BIGINT)"
        ).alias("q_e4"),
        F.expr(
            f"CAST(CASE WHEN floor(CAST(CAST(sum(term) AS DECIMAL(15,6)) AS DOUBLE) * 1e4 + 0.5)"
            f" > {LB_CHI2_DF12_5PCT_E4} THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_white_noise_5pct"),
    )


GRANGER_F_CRIT_1_80_5PCT_E4 = 39600  # F(1, ~80) 5% critical value, x1e4

# Shared-text determinant trees over the EXACT integer sums (suffix d =
# CAST AS DOUBLE). det3/det4 are cofactor expansions; identical IEEE in
# both engines.
_G_DET3 = (
    "(md * (ylyl_d * xlxl_d - ylxl_d * ylxl_d)"
    " - syl_d * (syl_d * xlxl_d - ylxl_d * sxl_d)"
    " + sxl_d * (syl_d * ylxl_d - ylyl_d * sxl_d))"
)
_G_DET2 = "(md * ylyl_d - syl_d * syl_d)"
_G_RSS_R = (
    "((md * (ylyl_d * syy_d - yyl_d * yyl_d)"
    " - syl_d * (syl_d * syy_d - yyl_d * sy_d)"
    " + sy_d * (syl_d * yyl_d - ylyl_d * sy_d)) / " + _G_DET2 + ")"
)
# det4 of the Gram matrix [[m,syl,sxl,sy],[syl,ylyl,ylxl,yyl],
# [sxl,ylxl,xlxl,yxl],[sy,yyl,yxl,syy]] by expansion along row 1.
_G_DET4 = (
    "(md * (ylyl_d * (xlxl_d * syy_d - yxl_d * yxl_d)"
    "       - ylxl_d * (ylxl_d * syy_d - yxl_d * yyl_d)"
    "       + yyl_d * (ylxl_d * yxl_d - xlxl_d * yyl_d))"
    " - syl_d * (syl_d * (xlxl_d * syy_d - yxl_d * yxl_d)"
    "            - ylxl_d * (sxl_d * syy_d - yxl_d * sy_d)"
    "            + yyl_d * (sxl_d * yxl_d - xlxl_d * sy_d))"
    " + sxl_d * (syl_d * (ylxl_d * syy_d - yxl_d * yyl_d)"
    "            - ylyl_d * (sxl_d * syy_d - yxl_d * sy_d)"
    "            + yyl_d * (sxl_d * yyl_d - ylxl_d * sy_d))"
    " - sy_d * (syl_d * (ylxl_d * yxl_d - xlxl_d * yyl_d)"
    "           - ylyl_d * (sxl_d * yxl_d - xlxl_d * sy_d)"
    "           + ylxl_d * (sxl_d * yyl_d - ylxl_d * sy_d)))"
)
_G_RSS_U = "(" + _G_DET4 + " / " + _G_DET3 + ")"
_G_F_EXPR = (
    "floor(((" + _G_RSS_R + " - " + _G_RSS_U + ") * (md - 3.0) / "
    + _G_RSS_U + ") * 1e4 + 0.5)"
)
_G_CAST_BLOCK = (
    "CAST(m AS DOUBLE) AS md, CAST(sy AS DOUBLE) AS sy_d,"
    " CAST(syl AS DOUBLE) AS syl_d, CAST(sxl AS DOUBLE) AS sxl_d,"
    " CAST(syy AS DOUBLE) AS syy_d, CAST(yyl AS DOUBLE) AS yyl_d,"
    " CAST(yxl AS DOUBLE) AS yxl_d, CAST(ylyl AS DOUBLE) AS ylyl_d,"
    " CAST(ylxl AS DOUBLE) AS ylxl_d, CAST(xlxl AS DOUBLE) AS xlxl_d"
)


def _monthly_kcents(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """Monthly revenue on the integer month index t (months since
    1992-01) as y = floor(cents / 1e5), plus the caller's `extra`
    per-month aggregates."""
    return (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(
            (
                (F.year("o_orderdate") - 1992) * 12
                + F.month("o_orderdate").cast("bigint")
            ).alias("t")
        )
        .agg(
            F.expr(
                "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100"
                " AS BIGINT)) DIV 100000 AS BIGINT)"
            ).alias("y"),
            *extra,
        )
    )


def _urgent_orders() -> Column:
    """Per-month count of 1-URGENT orders, the regressor x."""
    return (
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast("bigint")
        .alias("x")
    )


def _dickey_fuller_tau(
    series: DataFrame, y: str, yl: str, crit_e4: int, verdict: str
) -> DataFrame:
    """The Dickey-Fuller regression leg over a (t, y) series: exact
    lag-pair power sums, the tau statistic in 1e-4 units and the 0/1
    `verdict` column for tau below the critical value `crit_e4`."""
    lagged = series.select(
        "t", y, F.lag(y).over(Window.orderBy("t")).alias(yl)
    ).filter(F.col(yl).isNotNull())
    sums = lagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(yl).cast("bigint").alias("syl"),
        F.sum(F.col(yl) * F.col(yl)).cast("bigint").alias("ylyl"),
        F.sum(F.col(y) - F.col(yl)).cast("bigint").alias("sdy"),
        F.sum((F.col(y) - F.col(yl)) * F.col(yl))
        .cast("bigint")
        .alias("dyyl"),
        F.sum((F.col(y) - F.col(yl)) * (F.col(y) - F.col(yl)))
        .cast("bigint")
        .alias("dydy"),
    )
    d = sums.selectExpr(
        "m",
        "CAST(m AS DOUBLE) AS md",
        "CAST(syl AS DOUBLE) AS syl_d",
        "CAST(ylyl AS DOUBLE) AS ylyl_d",
        "CAST(sdy AS DOUBLE) AS sdy_d",
        "CAST(dyyl AS DOUBLE) AS dyyl_d",
        "CAST(dydy AS DOUBLE) AS dydy_d",
    )
    return d.select(
        F.col("m").cast("bigint").alias("n_pairs"),
        F.expr(f"CAST({_DF_T_EXPR} AS BIGINT)").alias("tau_e4"),
        F.expr(
            f"CAST(CASE WHEN {_DF_T_EXPR} < {crit_e4}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias(verdict),
    )


@query(
    "forecast_granger_urgent_revenue",
    oracle=f"""
    WITH months AS (
        SELECT (year(o_orderdate) - 1992) * 12
                   + CAST(month(o_orderdate) AS BIGINT) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) // 100000 AS BIGINT) AS y,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    lagged AS (
        SELECT t, y,
               lag(y) OVER (ORDER BY t) AS yl,
               lag(x) OVER (ORDER BY t) AS xl
        FROM months
    ),
    sums AS (
        SELECT count(*) AS m,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(yl) AS BIGINT) AS syl,
               CAST(sum(xl) AS BIGINT) AS sxl,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(y * yl) AS BIGINT) AS yyl,
               CAST(sum(y * xl) AS BIGINT) AS yxl,
               CAST(sum(yl * yl) AS BIGINT) AS ylyl,
               CAST(sum(yl * xl) AS BIGINT) AS ylxl,
               CAST(sum(xl * xl) AS BIGINT) AS xlxl
        FROM lagged WHERE yl IS NOT NULL
    ),
    d AS (
        SELECT m, {_G_CAST_BLOCK} FROM sums
    )
    SELECT CAST(m AS BIGINT) AS n_pairs,
           CAST({_G_F_EXPR} AS BIGINT) AS f_e4,
           CAST(CASE WHEN {_G_F_EXPR} > {GRANGER_F_CRIT_1_80_5PCT_E4}
                     THEN 1 ELSE 0 END AS INTEGER) AS granger_causes_5pct
    FROM d
    """,
)
def forecast_granger_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality test: does last month's URGENT-order count
    improve the forecast of this month's revenue beyond what last
    month's revenue already tells us? The nested-OLS F-test —
    restricted y_t ~ 1 + y_(t-1) vs unrestricted y_t ~ 1 + y_(t-1) +
    x_(t-1) — with both residual sums of squares obtained as ratios of
    Gram determinants (RSS = det(augmented Gram)/det(Gram) — no
    coefficient vector is ever materialized), F = (RSS_r − RSS_u)·
    (m−3)/RSS_u on one degree of freedom, and the 5% verdict as an
    integer compare against the F(1,80) critical value.

    Exactness: the monthly series quantizes to integer thousand-dollar
    units by spec (DIV — deterministic), every Gram entry is an exact
    BIGINT sum, and the cofactor-expansion determinant trees evaluate
    as ONE shared-text IEEE expression in both engines (4x4 integer
    determinants reach ~1e45 — beyond HUGEINT — so the fixed-tree
    double regime is the honest device, reported through the floor e4
    quantizer). Scale: one month rollup; the test runs on 83 lagged
    rows and ten scalar sums.
    """
    months = _monthly_kcents(spark, sf_dir, _urgent_orders())
    w = Window.orderBy("t")
    lagged = months.select(
        "t",
        "y",
        F.lag("y").over(w).alias("yl"),
        F.lag("x").over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    sums = lagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum("yl").cast("bigint").alias("syl"),
        F.sum("xl").cast("bigint").alias("sxl"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("y") * F.col("yl")).cast("bigint").alias("yyl"),
        F.sum(F.col("y") * F.col("xl")).cast("bigint").alias("yxl"),
        F.sum(F.col("yl") * F.col("yl")).cast("bigint").alias("ylyl"),
        F.sum(F.col("yl") * F.col("xl")).cast("bigint").alias("ylxl"),
        F.sum(F.col("xl") * F.col("xl")).cast("bigint").alias("xlxl"),
    )
    d = sums.selectExpr("m", *_G_CAST_BLOCK.split(", "))
    return d.select(
        F.col("m").cast("bigint").alias("n_pairs"),
        F.expr(f"CAST({_G_F_EXPR} AS BIGINT)").alias("f_e4"),
        F.expr(
            f"CAST(CASE WHEN {_G_F_EXPR} > {GRANGER_F_CRIT_1_80_5PCT_E4}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("granger_causes_5pct"),
    )


DF_CRIT_CONST_5PCT_E4 = -28990  # Dickey-Fuller tau-mu 5% critical value, x1e4

_DF_T_EXPR = (
    "floor(((md * dyyl_d - syl_d * sdy_d) / (md * ylyl_d - syl_d * syl_d))"
    " / sqrt(((md * (ylyl_d * dydy_d - dyyl_d * dyyl_d)"
    "          - syl_d * (syl_d * dydy_d - dyyl_d * sdy_d)"
    "          + sdy_d * (syl_d * dyyl_d - ylyl_d * sdy_d))"
    "         / (md * ylyl_d - syl_d * syl_d))"
    "        / (md - 2.0) * md / (md * ylyl_d - syl_d * syl_d)) * 1e4 + 0.5)"
)


@query(
    "forecast_dickey_fuller_unit_root",
    oracle=f"""
    WITH months AS (
        SELECT (year(o_orderdate) - 1992) * 12
                   + CAST(month(o_orderdate) AS BIGINT) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) // 100000 AS BIGINT) AS y
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    lagged AS (
        SELECT t, y, lag(y) OVER (ORDER BY t) AS yl FROM months
    ),
    sums AS (
        SELECT count(*) AS m,
               CAST(sum(yl) AS BIGINT) AS syl,
               CAST(sum(yl * yl) AS BIGINT) AS ylyl,
               CAST(sum(y - yl) AS BIGINT) AS sdy,
               CAST(sum((y - yl) * yl) AS BIGINT) AS dyyl,
               CAST(sum((y - yl) * (y - yl)) AS BIGINT) AS dydy
        FROM lagged WHERE yl IS NOT NULL
    ),
    d AS (
        SELECT m, CAST(m AS DOUBLE) AS md,
               CAST(syl AS DOUBLE) AS syl_d, CAST(ylyl AS DOUBLE) AS ylyl_d,
               CAST(sdy AS DOUBLE) AS sdy_d, CAST(dyyl AS DOUBLE) AS dyyl_d,
               CAST(dydy AS DOUBLE) AS dydy_d
        FROM sums
    )
    SELECT CAST(m AS BIGINT) AS n_pairs,
           CAST({_DF_T_EXPR} AS BIGINT) AS tau_e4,
           CAST(CASE WHEN {_DF_T_EXPR} < {DF_CRIT_CONST_5PCT_E4}
                     THEN 1 ELSE 0 END AS INTEGER) AS stationary_5pct
    FROM d
    """,
)
def forecast_dickey_fuller_unit_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test on the monthly revenue series —
    the stationarity gate that decides whether the trend/forecast
    family may difference the series: regress Δy_t on a constant and
    y_(t−1), and the t-statistic of the lag coefficient (tau-mu)
    against the Dickey-Fuller 5% critical value (−2.899; the tau
    distribution is NOT Student-t — that is the whole point of the
    test) declares the series stationary or unit-root. Completes the
    Box-Jenkins battery: ACF/PACF describe, DW and Ljung-Box detect
    leftover structure, Granger tests cross-series predictiveness, DF
    decides differencing.

    Exactness: the Granger device — exact BIGINT sums on the DIV-
    quantized series, gamma-hat and its standard error formed from
    Gram-determinant expressions in ONE shared-text IEEE tree (sqrt is
    correctly rounded), floor e4 reporting, integer critical-value
    verdict. Scale: month rollup + 83 lagged rows + six scalar sums.
    """
    months = _monthly_kcents(spark, sf_dir)
    return _dickey_fuller_tau(
        months, "y", "yl", DF_CRIT_CONST_5PCT_E4, "stationary_5pct"
    )


EG_CRIT_5PCT_E4 = -33700  # Engle-Granger 2-variable 5% critical value, x1e4


@query(
    "forecast_engle_granger_cointegration",
    oracle=f"""
    WITH months AS (
        SELECT (year(o_orderdate) - 1992) * 12
                   + CAST(month(o_orderdate) AS BIGINT) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) // 100000 AS BIGINT) AS y,
               CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    s1 AS (
        SELECT count(*) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM months
    ),
    resid AS (
        SELECT mo.t,
               (s.m * s.sxx - s.sx * s.sx) * mo.y
                   - (s.sy * s.sxx - s.sx * s.sxy)
                   - (s.m * s.sxy - s.sx * s.sy) * mo.x AS ed
        FROM months mo, s1 s
    ),
    q AS (
        SELECT greatest(CAST(max(abs(ed)) // 1000000 AS BIGINT), 1) AS scale
        FROM resid
    ),
    e2 AS (
        SELECT r.t, r.ed // q.scale AS e FROM resid r, q
    ),
    lagged AS (
        SELECT t, e, lag(e) OVER (ORDER BY t) AS el FROM e2
    ),
    sums AS (
        SELECT count(*) AS m,
               CAST(sum(el) AS BIGINT) AS syl,
               CAST(sum(el * el) AS BIGINT) AS ylyl,
               CAST(sum(e - el) AS BIGINT) AS sdy,
               CAST(sum((e - el) * el) AS BIGINT) AS dyyl,
               CAST(sum((e - el) * (e - el)) AS BIGINT) AS dydy
        FROM lagged WHERE el IS NOT NULL
    ),
    d AS (
        SELECT m, CAST(m AS DOUBLE) AS md,
               CAST(syl AS DOUBLE) AS syl_d, CAST(ylyl AS DOUBLE) AS ylyl_d,
               CAST(sdy AS DOUBLE) AS sdy_d, CAST(dyyl AS DOUBLE) AS dyyl_d,
               CAST(dydy AS DOUBLE) AS dydy_d
        FROM sums
    )
    SELECT CAST(m AS BIGINT) AS n_pairs,
           CAST({_DF_T_EXPR} AS BIGINT) AS tau_e4,
           CAST(CASE WHEN {_DF_T_EXPR} < {EG_CRIT_5PCT_E4}
                     THEN 1 ELSE 0 END AS INTEGER) AS cointegrated_5pct
    FROM d
    """,
)
def forecast_engle_granger_cointegration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Engle-Granger cointegration test between monthly revenue and
    urgent-order volume — do the two series share a common stochastic
    trend? Step 1 regresses y on x and takes the residuals (the
    candidate long-run equilibrium deviations); step 2 runs the
    Dickey-Fuller machinery ON those residuals against the stricter
    Engle-Granger critical value (−3.37; stricter because the
    residuals are estimated, not observed). A rejection means the
    spread y − βx is stationary: the pair is tied together even if
    each series alone wanders.

    Exactness: a composition of two proven devices. The step-1
    residuals carry the DW trick — scaled by the OLS denominator they
    are exact BIGINTs — then a DATA-DERIVED quantizer (max|e|
    DIV 1e6 + 1, a deterministic 1-row broadcast) shrinks them so
    every step-2 Gram sum stays under 2^53 (tau is scale-invariant;
    the DIV truncation is part of the spec). Step 2 is DF's
    shared-text determinant tree verbatim. Scale: month rollup plus
    ~84-row arithmetic.
    """
    months = _monthly_kcents(spark, sf_dir, _urgent_orders())
    s1 = months.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    resid = months.crossJoin(F.broadcast(s1)).select(
        "t",
        F.expr(
            "(m * sxx - sx * sx) * y - (sy * sxx - sx * sxy)"
            " - (m * sxy - sx * sy) * x"
        ).alias("ed"),
    )
    q = resid.agg(
        F.expr("greatest(CAST(max(abs(ed)) DIV 1000000 AS BIGINT), 1)").alias(
            "scale"
        )
    )
    e2 = resid.crossJoin(F.broadcast(q)).select(
        "t", F.expr("ed DIV scale").alias("e")
    )
    return _dickey_fuller_tau(e2, "e", "el", EG_CRIT_5PCT_E4, "cointegrated_5pct")


import math as _math

SPRT_P0 = 0.20  # H0 conversion rate
SPRT_P1 = 0.25  # H1 conversion rate
# Per-observation log-likelihood-ratio increments and Wald boundaries
# (alpha = beta = 0.05 -> A = 19, B = 1/19), quantized to e12 integers
# at MODULE level so both engines consume identical literals.
SPRT_L_CONV = int(round(_math.log(SPRT_P1 / SPRT_P0) * 1e12))
SPRT_L_MISS = int(round(_math.log((1 - SPRT_P1) / (1 - SPRT_P0)) * 1e12))
SPRT_UPPER = int(round(_math.log(19.0) * 1e12))
SPRT_LOWER = int(round(_math.log(1.0 / 19.0) * 1e12))


@query(
    "ab_sprt_sequential_boundary",
    oracle=f"""
    WITH obs AS (
        SELECT event_id, ts,
               CASE WHEN event_type = 'purchase' THEN {SPRT_L_CONV}
                    ELSE {SPRT_L_MISS} END AS llr
        FROM events
        WHERE {_SQL_HASH.format(salt="sprt:", key="user_id")} < '80000000'
          AND ts IS NOT NULL
    ),
    walk AS (
        SELECT row_number() OVER (ORDER BY ts, event_id) AS n,
               sum(llr) OVER (ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM obs
    ),
    crossing AS (
        SELECT n, cum,
               row_number() OVER (ORDER BY n) AS rn
        FROM walk
        WHERE cum >= {SPRT_UPPER} OR cum <= {SPRT_LOWER}
    ),
    terminal AS (
        SELECT max(n) AS n_total, max(cum) AS cum_final FROM walk
    )
    SELECT CASE WHEN c.n IS NULL THEN 'continue'
                WHEN c.cum >= {SPRT_UPPER} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           CAST(coalesce(c.n, t.n_total) AS BIGINT) AS n_at_decision,
           CAST(coalesce(c.cum,
                         (SELECT cum FROM walk WHERE n = t.n_total))
                AS BIGINT) AS llr_e12,
           CAST(t.n_total AS BIGINT) AS n_available,
           CAST((2 * 10000 * coalesce(c.n, t.n_total) + t.n_total)
                // (2 * t.n_total) AS BIGINT) AS sample_used_bp
    FROM terminal t LEFT JOIN crossing c ON c.rn = 1
    """,
)
def ab_sprt_sequential_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test over the event stream —
    the sequential complement of ab_wilson_significance's fixed-n
    test: a hash-selected arm's events are walked in time order, each
    observation adds one of TWO constant log-likelihood increments
    (convert vs not, for H1 p={SPRT_P1} against H0 p={SPRT_P0}), and
    the experiment STOPS at the first crossing of the Wald boundaries
    ln(19)/ln(1/19) (alpha=beta=5%). `sample_used_bp` is the point of
    sequential testing — the fraction of available traffic actually
    consumed before the decision.

    Exactness: the only logarithms are MODULE-LEVEL spec constants
    quantized to e12 integers before either engine sees them, so the
    cumulative LLR walk is an exact BIGINT running sum and both the
    crossing test and the decision are integer compares. Scale (r9):
    the walk's total (ts, event_id) order is CALENDAR-prefixed — all
    of month m sorts before month m+1 — so the prefix-sharded device
    (functions/ranks.py) runs one window per month with broadcast
    month offsets (count for n, LLR sum for cum), bit-identical to
    the single global window with no single-partition stage; the
    first crossing is a min/min_by aggregate, never a rank over the
    filtered walk.
    """
    from leadsight_sales_agent_spark.functions.ranks import sharded_prefix

    # ts IS NOT NULL at entry (r12): a timestampless observation has no
    # position in the ORDER BY ts walk (the watermark contract)
    obs = (
        load(spark, sf_dir, "events")
        .filter(hash_key("sprt:", F.col("user_id")) < "80000000")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "ts",
            F.when(F.col("event_type") == "purchase", SPRT_L_CONV)
            .otherwise(SPRT_L_MISS)
            .cast("bigint")
            .alias("llr"),
        )
    )
    # three consumers (crossing, terminal, final row) — checkpoint so
    # the sharded walk's plan runs once (the r8 shared-frame rule)
    walk = (
        sharded_prefix(
            obs.withColumn("_month", F.date_trunc("month", F.col("ts"))),
            "_month",
            ["ts", "event_id"],
            rank_out="n",
            sums={"cum": "llr"},
        )
        .select("n", "cum")
        # ckpt-grain: slim-exception — see comment: slim 2-col cumulative walk, kept after the r11 audit
        .localCheckpoint()  # slim 2-column walk; checkpoint kept (r11 rule exception)
    )
    crossing = walk.filter(
        (F.col("cum") >= SPRT_UPPER) | (F.col("cum") <= SPRT_LOWER)
    ).agg(
        F.min("n").alias("cn"),
        F.min_by("cum", "n").alias("ccum"),
    )
    # terminal state as ONE aggregate (r10): max_by(cum, n) fetches the
    # final walk value in the same 1-row agg as n_total — replaces the
    # crossJoin+filter pass AND keeps the report total (1 row,
    # 'continue', NULLs) on an empty observation stream, matching the
    # oracle's global-aggregate construction.
    final_cum = walk.agg(
        F.max("n").alias("n_total"),
        F.expr("max_by(cum, n)").alias("fcum"),
    ).withColumn("k", F.lit(1))
    cr = crossing.withColumn("k", F.lit(1))
    return (
        final_cum.join(F.broadcast(cr), "k", "left")
        .select(
            F.when(F.col("cn").isNull(), "continue")
            .when(F.col("ccum") >= SPRT_UPPER, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            F.coalesce("cn", "n_total").cast("bigint").alias("n_at_decision"),
            F.coalesce("ccum", "fcum").cast("bigint").alias("llr_e12"),
            F.col("n_total").cast("bigint").alias("n_available"),
            F.expr(
                "CAST((2 * 10000 * coalesce(cn, n_total) + n_total)"
                " DIV (2 * n_total) AS BIGINT)"
            ).alias("sample_used_bp"),
        )
    )


@query(
    "bandit_ucb1_allocation",
    oracle="""
    WITH fp AS (
        SELECT user_id, min(ts) AS t0
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    trials AS (
        SELECT e.event_type AS arm,
               CASE WHEN f.t0 IS NOT NULL AND e.ts < f.t0
                    THEN 1 ELSE 0 END AS success
        FROM events e LEFT JOIN fp f ON f.user_id = e.user_id
        WHERE e.event_type <> 'purchase'
    ),
    arms AS (
        SELECT arm, count(*) AS n,
               CAST(sum(success) AS BIGINT) AS s
        FROM trials GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS big_n FROM arms),
    scored AS (
        SELECT a.arm, CAST(a.n AS BIGINT) AS n, a.s, t.big_n,
               CAST((2 * 10000 * a.s + a.n) // (2 * a.n) AS BIGINT)
                   AS mean_bp,
               CAST(floor((CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                           + sqrt(2.0 * ln(CAST(t.big_n AS DOUBLE))
                                  / CAST(a.n AS DOUBLE))) * 1e4 + 0.5)
                    AS BIGINT) AS ucb1_e4
        FROM arms a, tot t
    )
    SELECT arm, n, s AS successes, mean_bp, ucb1_e4,
           CAST(CASE WHEN row_number() OVER (ORDER BY ucb1_e4 DESC, arm) = 1
                     THEN 1 ELSE 0 END AS INTEGER) AS play_next
    FROM scored
    """,
)
def bandit_ucb1_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit allocation over the marketing channels — which arm
    should the NEXT unit of traffic play? Each non-purchase event is a
    trial of its channel; a trial succeeds if its user goes on to
    purchase afterward (the Shapley frame's pre-first-purchase
    notion). UCB1 scores mean + sqrt(2·ln N / n) — exploitation plus
    the optimism bonus that shrinks as an arm accumulates plays — and
    the single play_next row is the allocation decision an online
    serving layer would enact (this batch query IS the nightly prior
    for it).

    Exactness: trial/success counts are exact integers and the
    empirical mean reports through the half-up bp device; the UCB
    score's ln/sqrt run in ONE shared-text tree on integer-derived
    doubles (ln is within 1 ulp across libms — the e4 floor grain
    tolerates it; the playbook regime), and the argmax tie-breaks on
    the arm name. Scale: one left join onto the first-purchase frame,
    one 4-key rollup, a 4-row scoring window.
    """
    ev = load(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    trials = (
        ev.filter(F.col("event_type") != "purchase")
        .join(F.broadcast(fp), "user_id", "left")
        .select(
            F.col("event_type").alias("arm"),
            F.when(
                F.col("t0").isNotNull() & (F.col("ts") < F.col("t0")), 1
            )
            .otherwise(0)
            .alias("success"),
        )
    )
    arms = trials.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("success").cast("bigint").alias("s")
    )
    tot = arms.agg(F.sum("n").cast("bigint").alias("big_n"))
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "arm",
        F.col("n").cast("bigint").alias("n"),
        "s",
        F.expr("CAST((2 * 10000 * s + n) DIV (2 * n) AS BIGINT)").alias("mean_bp"),
        F.expr(
            "CAST(floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
            " + sqrt(2.0 * ln(CAST(big_n AS DOUBLE)) / CAST(n AS DOUBLE)))"
            " * 1e4 + 0.5) AS BIGINT)"
        ).alias("ucb1_e4"),
    )
    return scored.select(
        "arm",
        "n",
        F.col("s").alias("successes"),
        "mean_bp",
        "ucb1_e4",
        F.when(
            F.row_number().over(Window.orderBy(F.desc("ucb1_e4"), F.asc("arm")))
            == 1,
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("play_next"),
    )


LOGRANK_CHI2_1DF_5PCT_E4 = 38415  # chi-square(1) 5% critical value x1e4


def _signup_anchor(ev: DataFrame) -> DataFrame:
    """Each user's first signup time t0."""
    return (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )


def _signup_outcomes(left: DataFrame, right: DataFrame) -> DataFrame:
    """Per user of the events x signup-anchor join (either side first):
    the first purchase after signup (tp, NULL when none), the last
    event (tlast) and t0."""
    return (
        left.join(right, "user_id")
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("tp"),
            F.max("ts").alias("tlast"),
            F.any_value("t0").alias("t0"),
        )
    )


@query(
    "survival_logrank_test",
    oracle=f"""
    WITH anchor AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ),
    outcome AS (
        SELECT a.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > a.t0
                        THEN e.ts END) AS tp,
               max(e.ts) AS tlast,
               any_value(a.t0) AS t0
        FROM anchor a JOIN events e ON e.user_id = a.user_id
        WHERE e.ts IS NOT NULL
        GROUP BY 1
    ),
    spells AS (
        SELECT user_id,
               CASE WHEN {_SQL_HASH.format(salt="lr:", key="user_id")}
                         < '80000000' THEN 1 ELSE 0 END AS arm,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS died,
               CASE WHEN tp IS NOT NULL
                    THEN date_diff('day', t0, tp)
                    ELSE date_diff('day', t0, tlast) END AS dur
        FROM outcome
    ),
    pg AS (
        SELECT arm, dur,
               CAST(sum(died) AS BIGINT) AS d_g,
               CAST(count(*) AS BIGINT) AS x_g
        FROM spells GROUP BY 1, 2
    ),
    times AS (
        SELECT DISTINCT dur FROM pg WHERE d_g > 0
    ),
    grid AS (
        SELECT a.arm, t.dur, coalesce(p.d_g, 0) AS d_g,
               coalesce(p.x_g, 0) AS x_g
        FROM (SELECT DISTINCT arm FROM pg) a
        CROSS JOIN (SELECT DISTINCT dur FROM pg) t
        LEFT JOIN pg p ON p.arm = a.arm AND p.dur = t.dur
    ),
    risk AS (
        SELECT arm, dur, d_g,
               sum(x_g) OVER (PARTITION BY arm) 
                   - coalesce(sum(x_g) OVER (PARTITION BY arm ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS n_g
        FROM grid
    ),
    att AS (
        SELECT r.dur,
               max(CASE WHEN arm = 1 THEN d_g END) AS d1,
               max(CASE WHEN arm = 1 THEN n_g END) AS n1,
               max(CASE WHEN arm = 0 THEN d_g END) + 
                   max(CASE WHEN arm = 1 THEN d_g END) AS d,
               max(CASE WHEN arm = 0 THEN n_g END) + 
                   max(CASE WHEN arm = 1 THEN n_g END) AS n
        FROM risk r JOIN times t ON t.dur = r.dur
        GROUP BY 1
    ),
    terms AS (
        SELECT CAST(sum(d1) AS BIGINT) AS o1,
               CAST(sum(CAST(round(CAST(n1 AS DOUBLE) * CAST(d AS DOUBLE)
                                   / CAST(n AS DOUBLE), 6)
                             AS DECIMAL(20,6))) AS DECIMAL(20,6)) AS e1,
               CAST(sum(CASE WHEN n > 1 THEN
                        CAST(round(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE)
                                   / CAST(n AS DOUBLE))
                                   * (1.0 - CAST(n1 AS DOUBLE)
                                      / CAST(n AS DOUBLE))
                                   * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))
                                   / (CAST(n AS DOUBLE) - 1.0), 6)
                             AS DECIMAL(20,6)) ELSE 0 END)
                    AS DECIMAL(20,6)) AS v
        FROM att
    )
    SELECT o1 AS observed_arm1,
           CAST(floor({sql_d53s("e1", 6)} * 1e4 + 0.5) AS BIGINT)
               AS expected_arm1_e4,
           CAST(floor((CAST(o1 AS DOUBLE) - {sql_d53s("e1", 6)})
                      * (CAST(o1 AS DOUBLE) - {sql_d53s("e1", 6)})
                      / {sql_d53s("v", 6)} * 1e4 + 0.5) AS BIGINT)
               AS chi2_e4,
           CAST(CASE WHEN floor((CAST(o1 AS DOUBLE) - {sql_d53s("e1", 6)})
                      * (CAST(o1 AS DOUBLE) - {sql_d53s("e1", 6)})
                      / {sql_d53s("v", 6)} * 1e4 + 0.5)
                          > {LOGRANK_CHI2_1DF_5PCT_E4}
                     THEN 1 ELSE 0 END AS INTEGER) AS curves_differ_5pct
    FROM terms
    """,
)
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two arms' survival curves — the
    inferential sibling of survival_kaplan_meier (KM describes one
    curve; log-rank decides whether two differ): users hash-split into
    two arms, and at every death time the observed arm-1 events are
    compared to the hypergeometric expectation given the at-risk sets,
    Z² = (ΣO−ΣE)²/ΣV on one degree of freedom.

    Exactness: O is an exact integer; the E and V terms are rationals
    with per-time denominators, so each evaluates as an identical IEEE
    expression rounded 6dp and sums as DECIMAL (the Kruskal-Wallis
    term-sum device); at-risk counts come from dense per-arm grids
    with a PRECEDING-frame cumulative (exact integers); the statistic
    reports through the floor quantizer with an integer critical-value
    verdict. Scale: spells build on the KM plan; everything after runs
    on the duration grain (bounded by the observation window in days).
    """
    # ts IS NOT NULL at entry (r12): the KM all-null-anchor seam —
    # NULL-duration spells order differently per engine
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    anchor = _signup_anchor(ev)
    outcome = _signup_outcomes(anchor, ev)
    spells = outcome.select(
        F.when(hash_key("lr:", F.col("user_id")) < "80000000", 1)
        .otherwise(0)
        .alias("arm"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
        F.when(
            F.col("tp").isNotNull(), F.datediff(F.col("tp"), F.col("t0"))
        )
        .otherwise(F.datediff(F.col("tlast"), F.col("t0")))
        .cast("bigint")
        .alias("dur"),
    )
    pg = spells.groupBy("arm", "dur").agg(
        F.sum("died").cast("bigint").alias("d_g"),
        F.count(F.lit(1)).cast("bigint").alias("x_g"),
    # r8: pg (bounded duration grain) feeds the event-time set and all
    # three grid legs — checkpoint so the spell build runs once
    # ckpt-grain: bounded — arm x duration grain
    ).localCheckpoint(eager=False)
    times = pg.filter(F.col("d_g") > 0).select("dur").distinct()
    grid = (
        pg.select("arm")
        .distinct()
        .crossJoin(pg.select("dur").distinct())
        .join(pg, ["arm", "dur"], "left")
        .select(
            "arm",
            "dur",
            F.coalesce("d_g", F.lit(0)).alias("d_g"),
            F.coalesce("x_g", F.lit(0)).alias("x_g"),
        )
    )
    wa = Window.partitionBy("arm")
    risk = grid.select(
        "arm",
        "dur",
        "d_g",
        (
            F.sum("x_g").over(wa)
            - F.coalesce(
                F.sum("x_g").over(
                    wa.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias("n_g"),
    )
    att = (
        risk.join(times, "dur")
        .groupBy("dur")
        .agg(
            F.max(F.when(F.col("arm") == 1, F.col("d_g"))).alias("d1"),
            F.max(F.when(F.col("arm") == 1, F.col("n_g"))).alias("n1"),
            (
                F.max(F.when(F.col("arm") == 0, F.col("d_g")))
                + F.max(F.when(F.col("arm") == 1, F.col("d_g")))
            ).alias("d"),
            (
                F.max(F.when(F.col("arm") == 0, F.col("n_g")))
                + F.max(F.when(F.col("arm") == 1, F.col("n_g")))
            ).alias("n"),
        )
    )
    terms = att.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum(
            F.expr(
                "CAST(round(CAST(n1 AS DOUBLE) * CAST(d AS DOUBLE)"
                " / CAST(n AS DOUBLE), 6) AS DECIMAL(20,6))"
            )
        )
        .cast("decimal(20,6)")
        .alias("e1"),
        F.sum(
            F.expr(
                "CASE WHEN n > 1 THEN CAST(round(CAST(d AS DOUBLE)"
                " * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (1.0 - CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (CAST(n AS DOUBLE) - CAST(d AS DOUBLE))"
                " / (CAST(n AS DOUBLE) - 1.0), 6) AS DECIMAL(20,6))"
                " ELSE CAST(0 AS DECIMAL(20,6)) END"
            )
        )
        .cast("decimal(20,6)")
        .alias("v"),
    )
    # r13 (plan-lint R9): e1/v are DECIMAL(20,6) sums whose unscaled
    # value scales with total event count — past 2^53 within the
    # 100 TB envelope — so they convert through the d53s split.
    chi2 = (
        f"floor((CAST(o1 AS DOUBLE) - {d53s('e1', 6)})"
        f" * (CAST(o1 AS DOUBLE) - {d53s('e1', 6)})"
        f" / {d53s('v', 6)} * 1e4 + 0.5)"
    )
    return terms.select(
        F.col("o1").alias("observed_arm1"),
        F.expr(
            f"CAST(floor({d53s('e1', 6)} * 1e4 + 0.5) AS BIGINT)"
        ).alias("expected_arm1_e4"),
        F.expr(f"CAST({chi2} AS BIGINT)").alias("chi2_e4"),
        F.expr(
            f"CAST(CASE WHEN {chi2} > {LOGRANK_CHI2_1DF_5PCT_E4}"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("curves_differ_5pct"),
    )


@query(
    "eval_cochran_q",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CASE WHEN value >= 50.0 THEN 1 ELSE 0 END AS p1,
               CASE WHEN CAST(minute(ts) AS INTEGER) < 30 THEN 1 ELSE 0 END
                   AS p2,
               CASE WHEN CAST(length(props) AS INTEGER) % 2 = 0
                    THEN 1 ELSE 0 END AS p3
        FROM events WHERE value IS NOT NULL AND props IS NOT NULL
    ),
    per_item AS (
        SELECT CASE WHEN p1 = y THEN 1 ELSE 0 END
                 + CASE WHEN p2 = y THEN 1 ELSE 0 END
                 + CASE WHEN p3 = y THEN 1 ELSE 0 END AS li,
               CASE WHEN p1 = y THEN 1 ELSE 0 END AS g1,
               CASE WHEN p2 = y THEN 1 ELSE 0 END AS g2,
               CASE WHEN p3 = y THEN 1 ELSE 0 END AS g3
        FROM scored
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(g1) AS BIGINT) AS s1,
               CAST(sum(g2) AS BIGINT) AS s2,
               CAST(sum(g3) AS BIGINT) AS s3,
               CAST(sum(li) AS BIGINT) AS sl,
               CAST(sum(li * li) AS BIGINT) AS sl2
        FROM per_item
    ),
    fin AS (
        SELECT n, s1, s2, s3,
               2 * (3 * (s1 * s1 + s2 * s2 + s3 * s3)
                    - (s1 + s2 + s3) * (s1 + s2 + s3)) AS num,
               3 * sl - sl2 AS den
        FROM sums
    )
    SELECT n AS n_items, s1 AS correct_m1, s2 AS correct_m2,
           s3 AS correct_m3,
           CAST((2 * num * 10000 + den) // (2 * den) AS BIGINT) AS q_bp,
           CAST(CASE WHEN CAST(num AS DOUBLE) / den > 5.991464547107979
                     THEN 1 ELSE 0 END AS INTEGER) AS models_differ_5pct
    FROM fin
    """,
)
def eval_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for THREE paired binary classifiers on the same
    examples — the k-treatment extension of eval_mcnemar_paired (k=2),
    closing the paired-eval family: do a value rule, a time-of-day
    rule, and a props-parity rule differ in accuracy on the shared
    event stream? Q = (k-1)(kΣG_j² - (ΣG_j)²)/(kΣL_i - ΣL_i²) on
    chi²(k-1); with k=3 both numerator and denominator are exact
    BIGINTs, so Q reports as pure-integer half-up basis points via
    bare DIV, and the 5% verdict compares the identical double ratio
    against the chi²(2) critical literal — cross-engine by
    construction, no device subtlety at all.

    100 TB plan: one map-side projection, one 1-row reduce — the
    cheapest possible shape (the McNemar plan with one more column).
    """
    scored = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("props").isNotNull())
        .select(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
            F.when(F.col("value") >= 50.0, 1).otherwise(0).alias("p1"),
            F.when(F.minute("ts").cast("int") < 30, 1).otherwise(0).alias("p2"),
            F.when(F.length("props").cast("int") % 2 == 0, 1)
            .otherwise(0)
            .alias("p3"),
        )
    )
    per_item = scored.select(
        *[
            F.when(F.col(p) == F.col("y"), 1).otherwise(0).alias(g)
            for p, g in (("p1", "g1"), ("p2", "g2"), ("p3", "g3"))
        ]
    ).withColumn("li", F.col("g1") + F.col("g2") + F.col("g3"))
    sums = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g1").cast("bigint").alias("s1"),
        F.sum("g2").cast("bigint").alias("s2"),
        F.sum("g3").cast("bigint").alias("s3"),
        F.sum("li").cast("bigint").alias("sl"),
        F.sum(F.col("li") * F.col("li")).cast("bigint").alias("sl2"),
    )
    fin = sums.select(
        "n",
        "s1",
        "s2",
        "s3",
        F.expr(
            "2 * (3 * (s1 * s1 + s2 * s2 + s3 * s3)"
            " - (s1 + s2 + s3) * (s1 + s2 + s3))"
        ).alias("num"),
        F.expr("3 * sl - sl2").alias("den"),
    )
    return fin.select(
        F.col("n").alias("n_items"),
        F.col("s1").alias("correct_m1"),
        F.col("s2").alias("correct_m2"),
        F.col("s3").alias("correct_m3"),
        F.expr("CAST((2 * num * 10000 + den) DIV (2 * den) AS BIGINT)").alias(
            "q_bp"
        ),
        F.expr(
            "CAST(CASE WHEN CAST(num AS DOUBLE) / den > 5.991464547107979"
            " THEN 1 ELSE 0 END AS INTEGER)"
        ).alias("models_differ_5pct"),
    )


# Power-analysis trees shared VERBATIM Spark/oracle: z constants are
# decimal literals of the standard normal quantiles (alpha/2 = 0.025
# two-sided -> 1.959964; power 80% -> 0.841621), sigma^2 comes from the
# exact integer sufficient stats, n is the per-arm size.
# r13: d2 (per-segment sum of squared centered cents, ~6e17 at sf0.01)
# exceeds 2^53 — it enters through the deterministic d53 split.
def _mde_abs(cv) -> str:
    return (
        "(1.959963984540054 + 0.8416212335729143)"
        f" * sqrt(2.0 * (({cv('d2')} - CAST(d1 AS DOUBLE)"
        " * CAST(d1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " / (CAST(n AS DOUBLE) - 1.0)) / (CAST(n AS DOUBLE) / 2.0))"
    )


_MDE_ABS = _mde_abs(d53)
_MDE_ABS_SQL = _mde_abs(sql_d53)


@query(
    "ab_power_mde_planner",
    oracle=f"""
    WITH j AS (
        SELECT c.c_mktsegment AS seg,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    g1 AS (
        SELECT seg, cents, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    cen AS (
        SELECT seg, cents, cnt,
               cents - (sum(cents * cnt) OVER (PARTITION BY seg)
                        // sum(cnt) OVER (PARTITION BY seg)) AS d
        FROM g1
    ),
    stats AS (
        SELECT seg,
               CAST(sum(cnt) AS BIGINT) AS n,
               CAST(sum(cnt * d) AS BIGINT) AS d1,
               CAST(sum(CAST(cnt AS HUGEINT) * d * d) AS DECIMAL(38,0)) AS d2,
               CAST(sum(cents * cnt) AS BIGINT) AS s_cents
        FROM cen GROUP BY 1
    )
    SELECT seg AS segment, n AS n_orders,
           CAST(floor({_MDE_ABS_SQL} + 0.5) AS BIGINT) AS mde_cents,
           CAST(floor({_MDE_ABS_SQL} / (CAST(s_cents AS DOUBLE)
                      / CAST(n AS DOUBLE))
                      * 1e4 + 0.5) AS BIGINT) AS mde_rel_bp
    FROM stats
    """,
)
def ab_power_mde_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect (MDE) planner per market segment: if
    each segment's order population were split 50/50 into an A/B test,
    what lift in mean order value could the experiment detect at 5%
    two-sided significance with 80% power? MDE = (z_{{a/2}} + z_b) ·
    sqrt(2sigma²/(n/2)) — the PLANNING member of the A/B family
    (ab_wilson_significance judges after the fact, ab_sprt monitors
    during, this says whether the test is worth running at all),
    reported absolute (cents) and relative (bp of the segment mean).

    Exactness: sigma² comes from the ANOVA centering device (per-group
    integer floor-mean shift, exact BIGINT/DECIMAL(38,0) power sums);
    the z quantiles are decimal literals, never an in-engine inverse
    CDF; the report is one shared-verbatim IEEE tree per column,
    floor-quantized. Scale-0 decimal -> double only.

    100 TB plan: one keyed join, one (seg,cents) collapse, per-seg
    windows sharing the seg hash partitioning, 5-row reduce.
    """
    j = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("seg"),
            exact_cents(F.col("o_totalprice")).alias("cents"),
        )
    )
    g1 = j.groupBy("seg", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    cen = _floor_mean_centered(g1, "seg", "cents", "seg")
    stats = cen.groupBy("seg").agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.col("cnt") * F.col("d")).cast("bigint").alias("d1"),
        F.sum(F.expr("CAST(cnt AS DECIMAL(38,0)) * d * d"))
        .cast("decimal(38,0)")
        .alias("d2"),
        F.sum(F.col("cents") * F.col("cnt")).cast("bigint").alias("s_cents"),
    )
    return stats.select(
        F.col("seg").alias("segment"),
        F.col("n").alias("n_orders"),
        F.expr(f"CAST(floor({_MDE_ABS} + 0.5) AS BIGINT)").alias("mde_cents"),
        F.expr(
            f"CAST(floor({_MDE_ABS} / (CAST(s_cents AS DOUBLE)"
            " / CAST(n AS DOUBLE)) * 1e4 + 0.5) AS BIGINT)"
        ).alias("mde_rel_bp"),
    )


# Page L z-tree shared VERBATIM Spark/oracle: with half-unit rank sums
# (l2 = 2L), E[2L] = n·k(k+1)²/2 and Var[2L] = 4·Var[L] =
# n·k²(k+1)²(k-1)/36, all exact integers scaled by 36.
_PAGE_Z_EXPR = (
    "CAST(floor((CAST(l2 AS DOUBLE) - CAST(e2_36 AS DOUBLE) / 36.0)"
    " / sqrt(CAST(v2_36 AS DOUBLE) / 36.0) * 1e4 + 0.5) AS BIGINT)"
)


@query(
    "eval_page_trend_test",
    oracle=f"""
    WITH cell AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               o_orderpriority AS prio,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    complete AS (
        SELECT * FROM cell
        QUALIFY count(*) OVER (PARTITION BY mon) = 5
    ),
    ranked AS (
        SELECT mon, prio, v,
               sum(1) OVER (PARTITION BY mon ORDER BY v) AS cum_incl,
               count(*) OVER (PARTITION BY mon, v) AS t
        FROM complete
    ),
    r2 AS (
        SELECT prio,
               row_number() OVER (ORDER BY prio) AS w,
               CAST(sum(2 * (cum_incl - t) + t + 1) AS BIGINT) AS r2_sum,
               CAST(count(*) AS BIGINT) AS n_blocks
        FROM ranked GROUP BY prio
    ),
    tot AS (
        SELECT CAST(max(n_blocks) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(w * r2_sum) AS BIGINT) AS l2
        FROM r2
    ),
    fin AS (
        SELECT n, k, l2,
               18 * n * k * (k + 1) * (k + 1) AS e2_36,
               n * k * k * (k + 1) * (k + 1) * (k - 1) AS v2_36
        FROM tot
    )
    SELECT CAST(n AS BIGINT) AS n_blocks,
           CAST(k AS INTEGER) AS k_treatments,
           CAST(l2 AS BIGINT) AS page_l2,
           {_PAGE_Z_EXPR} AS z_e4,
           CAST(CASE WHEN ABS((CAST(l2 AS DOUBLE) - CAST(e2_36 AS DOUBLE)
                               / 36.0) / sqrt(CAST(v2_36 AS DOUBLE) / 36.0))
                          > 1.959963984540054
                     THEN 1 ELSE 0 END AS INTEGER) AS trend_5pct
    FROM fin
    """,
)
def eval_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test — the ORDERED-alternative refinement of
    eval_friedman_blocked_ranks on the same month x priority design:
    Friedman asks 'do the five priorities differ at all?'; Page asks
    'do they trend MONOTONICALLY with the priority order 1-URGENT →
    5-LOW?' (L = Σ_j w_j·R_j weights each priority's rank sum by its
    hypothesized position, far more powerful when the alternative is
    ordered). The normal approximation z is reported with a 5%
    two-sided verdict.

    Exactness: rank sums ride the half-unit device (so l2 = 2L is an
    exact BIGINT); E[2L] and Var[2L] carry scaled by 36 as exact
    integer columns; z is one shared-verbatim IEEE tree, and the
    verdict compares the identical double against the z literal —
    deterministic both engines. Treatment weights are row_number over
    the priority NAME order, which is the semantic urgency order in
    TPC-H ('1-URGENT' < ... < '5-LOW').

    100 TB plan: identical to Friedman — one month+priority map-side
    collapse, windows on the ~420-row grid, a 5-row reduce.
    """
    r2 = _priority_rank_sums(spark, sf_dir).select(
        "prio",
        F.row_number().over(Window.orderBy("prio")).cast("bigint").alias("w"),
        "r2_sum",
        "n_blocks",
    )
    tot = r2.agg(
        F.max("n_blocks").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("w") * F.col("r2_sum")).cast("bigint").alias("l2"),
    )
    fin = tot.select(
        "n",
        "k",
        "l2",
        F.expr("18 * n * k * (k + 1) * (k + 1)").alias("e2_36"),
        F.expr("n * k * k * (k + 1) * (k + 1) * (k - 1)").alias("v2_36"),
    )
    return fin.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("int").alias("k_treatments"),
        F.col("l2").cast("bigint").alias("page_l2"),
        F.expr(_PAGE_Z_EXPR).alias("z_e4"),
        F.expr(
            "CAST(CASE WHEN ABS((CAST(l2 AS DOUBLE) - CAST(e2_36 AS DOUBLE)"
            " / 36.0) / sqrt(CAST(v2_36 AS DOUBLE) / 36.0))"
            " > 1.959963984540054 THEN 1 ELSE 0 END AS INTEGER)"
        ).alias("trend_5pct"),
    )


HURST_WINDOWS = (8, 16, 32)  # ln-equally-spaced -> 3-point OLS slope
# Hurst from the two extreme window sizes (equally ln-spaced 3-point
# OLS slope = (y3 - y1)/(2*ln 2)); ratio of exact micro-integers.
_HURST_EXPR = (
    "CAST(floor(ln((CAST(rs32 AS DOUBLE) * CAST(nb8 AS DOUBLE))"
    " / (CAST(rs8 AS DOUBLE) * CAST(nb32 AS DOUBLE)))"
    " / (2.0 * ln(2.0)) * 1e4 + 0.5) AS BIGINT)"
)


def _hurst_oracle() -> str:
    legs = []
    for m in HURST_WINDOWS:
        legs.append(f"""
    blocks{m} AS (
        SELECT (idx - 1) // {m} AS blk, idx, v,
               sum(v) OVER (PARTITION BY (idx - 1) // {m}
                            ORDER BY idx) AS cum,
               row_number() OVER (PARTITION BY (idx - 1) // {m}
                                  ORDER BY idx) AS t,
               sum(v) OVER (PARTITION BY (idx - 1) // {m}) AS sm,
               count(*) OVER (PARTITION BY (idx - 1) // {m}) AS bn
        FROM series
    ),
    rs{m} AS (
        SELECT blk,
               max({m} * cum - t * sm) - min({m} * cum - t * sm) AS r_scaled,
               CAST({m} AS HUGEINT) * sum(CAST(v AS HUGEINT) * v)
                   - CAST(max(sm) AS HUGEINT) * max(sm) AS s2_scaled
        FROM blocks{m} WHERE bn = {m}
        GROUP BY 1
    ),
    leg{m} AS (
        SELECT CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(CAST(floor(CAST(r_scaled AS DOUBLE)
                    / sqrt({sql_d53("s2_scaled")}) * 1e6 + 0.5)
                    AS BIGINT)) AS BIGINT) AS rs_micro
        FROM rs{m}
    )""")
    return f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    series AS (
        SELECT row_number() OVER (ORDER BY mon) AS idx, v FROM monthly
    ),{','.join(legs)}
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM series) AS n_months,
           l8.nb AS nb8, l8.rs_micro AS rs8,
           l16.nb AS nb16, l16.rs_micro AS rs16,
           l32.nb AS nb32, l32.rs_micro AS rs32,
           {_HURST_EXPR} AS hurst_e4
    FROM leg8 l8, leg16 l16, leg32 l32
    """


@query("timeseries_hurst_rs", oracle=_hurst_oracle())
def timeseries_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the monthly revenue series via rescaled-range
    (R/S) analysis — the long-memory diagnostic (H=0.5 random walk,
    H>0.5 persistent trends, H<0.5 mean reversion) that tells a
    forecaster whether the ACF tail is real signal; complements the
    stationarity battery (Dickey-Fuller) with the fractal view. R/S
    is computed per non-overlapping block at window sizes
    {HURST_WINDOWS}, averaged per size, and H is the ln-ln slope —
    with ln-equally-spaced sizes the 3-point OLS slope collapses to
    (y3-y1)/(2·ln2), so H needs only the ratio of the two extreme
    averages (no cross-row float regression).

    Exactness: within a block of m months, m·Z_t = m·cum_t - t·S_m is
    an exact BIGINT (Z_m = 0 puts the zero baseline in the range for
    free), so R_scaled = max-min is exact; S_scaled² = m·Q - S_m² is
    exact (HUGEINT/DECIMAL); R/S = R_scaled/sqrt(S_scaled²) — the m
    factors cancel — is ONE shared IEEE tree per block, floor-
    quantized to micro before the cross-block integer sum (the KW
    term-sum device). H is a single shared tree over four exact
    integers.

    100 TB plan: one month-grain map-side collapse, then every window
    runs on the ~84-row calendar-bounded series — the fact scan is
    the only data-sized stage (the forecast_* family's shape).
    """
    monthly = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mon"))
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("v")
        )
    )
    series = monthly.select(
        F.row_number().over(Window.orderBy("mon")).cast("bigint").alias("idx"),
        "v",
    # ckpt-grain: bounded — month-grain series
    ).localCheckpoint(eager=False)
    legs = {}
    for m in HURST_WINDOWS:
        wblk = Window.partitionBy(F.expr(f"(idx - 1) DIV {m}"))
        wcum = Window.partitionBy(F.expr(f"(idx - 1) DIV {m}")).orderBy("idx")
        blocks = series.select(
            F.expr(f"(idx - 1) DIV {m}").alias("blk"),
            "idx",
            "v",
            F.sum("v").over(wcum).alias("cum"),
            F.row_number().over(wcum).cast("bigint").alias("t"),
            F.sum("v").over(wblk).alias("sm"),
            F.count(F.lit(1)).over(wblk).alias("bn"),
        ).filter(F.col("bn") == m)
        rs = blocks.groupBy("blk").agg(
            (
                F.max(m * F.col("cum") - F.col("t") * F.col("sm"))
                - F.min(m * F.col("cum") - F.col("t") * F.col("sm"))
            ).alias("r_scaled"),
            F.expr(
                f"CAST({m} AS DECIMAL(38,0)) * sum(CAST(v AS DECIMAL(38,0)) * v)"
                " - CAST(max(sm) AS DECIMAL(38,0)) * max(sm)"
            ).alias("s2_scaled"),
        )
        legs[m] = rs.agg(
            F.count(F.lit(1)).cast("bigint").alias(f"nb{m}"),
            F.sum(
                F.expr(
                    # r13: s2_scaled (~3e22) past 2^53 — d53 split.
                    "CAST(floor(CAST(r_scaled AS DOUBLE)"
                    f" / sqrt({d53('s2_scaled')}) * 1e6 + 0.5)"
                    " AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias(f"rs{m}"),
        )
    n_months = series.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    out = n_months
    for m in HURST_WINDOWS:
        out = out.crossJoin(F.broadcast(legs[m]))
    return out.select(
        "n_months",
        "nb8",
        "rs8",
        "nb16",
        "rs16",
        "nb32",
        "rs32",
        F.expr(_HURST_EXPR).alias("hurst_e4"),
    )


OPS_MM1_MU_PER_HOUR = 2000  # modeled service rate (jobs/hour), spec constant
# M/M/1 trees over exact integers: lambda = (n-1)/(span seconds) jobs/s.
# All shares one sub-tree rho = lambda/mu; reported only when rho < 1.
_MM1_RHO = (
    "((CAST(n AS DOUBLE) - 1.0) / CAST(span_s AS DOUBLE))"
    f" / ({OPS_MM1_MU_PER_HOUR}.0 / 3600.0)"
)


@query(
    "ops_queueing_mm1_metrics",
    oracle=f"""
    WITH arr AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(floor(epoch(max(ts))) AS BIGINT)
                   - CAST(floor(epoch(min(ts))) AS BIGINT) AS span_s
        FROM events GROUP BY 1
    ),
    staged AS (
        SELECT event_type, n, span_s, {_MM1_RHO} AS rho
        FROM arr WHERE n > 1 AND span_s > 0
    )
    SELECT event_type, n AS n_arrivals, span_s AS span_seconds,
           CAST(floor(rho * 1e4 + 0.5) AS BIGINT) AS rho_bp,
           CAST(CASE WHEN rho < 1.0
                     THEN floor(rho * rho / (1.0 - rho) * 1e4 + 0.5)
                     ELSE -1 END AS BIGINT) AS lq_e4,
           CAST(CASE WHEN rho < 1.0
                     THEN floor(rho / (1.0 - rho)
                                / ({OPS_MM1_MU_PER_HOUR}.0 / 3600.0)
                                * 1e2 + 0.5)
                     ELSE -1 END AS BIGINT) AS wq_s_e2
    FROM staged
    """,
)
def ops_queueing_mm1_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/1 queueing estimates per event type: treat each type's
    event stream as a Poisson arrival process (lambda estimated as
    (n-1)/observed span) against a modeled service rate mu =
    {OPS_MM1_MU_PER_HOUR}/hour, and report utilization rho, the
    expected queue length Lq = rho²/(1-rho), and the expected
    queue wait Wq = rho/(mu-lambda) (Little's law family) — the
    capacity-planning arithmetic behind every ingestion-pipeline SLO
    (pairs with ops_multiwindow_burn_alerts: burn tells you the SLO is
    dying, queueing theory tells you how many workers fix it).
    Unstable regimes (rho >= 1) report -1 sentinels rather than
    negative nonsense.

    Exactness: n and span_s are exact integers (the floor(epoch())
    device — DuckDB CAST(epoch() AS BIGINT) ROUNDS sub-seconds); every
    metric is one shared-verbatim IEEE tree over those two integers
    with literal constants, floor-quantized; the rho < 1 branch
    compares identical doubles. 100 TB plan: one map-side count/min/max
    reduce per type — the cheapest possible shape.
    """
    arr = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            )
            .cast("bigint")
            .alias("span_s"),
        )
    )
    staged = arr.filter((F.col("n") > 1) & (F.col("span_s") > 0)).select(
        "event_type", "n", "span_s", F.expr(_MM1_RHO).alias("rho")
    )
    return staged.select(
        "event_type",
        F.col("n").alias("n_arrivals"),
        F.col("span_s").alias("span_seconds"),
        F.expr("CAST(floor(rho * 1e4 + 0.5) AS BIGINT)").alias("rho_bp"),
        F.expr(
            "CAST(CASE WHEN rho < 1.0"
            " THEN floor(rho * rho / (1.0 - rho) * 1e4 + 0.5)"
            " ELSE -1 END AS BIGINT)"
        ).alias("lq_e4"),
        F.expr(
            "CAST(CASE WHEN rho < 1.0"
            " THEN floor(rho / (1.0 - rho)"
            f" / ({OPS_MM1_MU_PER_HOUR}.0 / 3600.0)"
            " * 1e2 + 0.5)"
            " ELSE -1 END AS BIGINT)"
        ).alias("wq_s_e2"),
    )


@query(
    "survival_nelson_aalen",
    oracle="""
    WITH anchor AS (
        SELECT user_id, min(ts) AS t0 FROM events
        WHERE event_type = 'signup' AND ts IS NOT NULL GROUP BY 1
    ),
    outcome AS (
        SELECT a.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > a.t0
                        THEN e.ts END) AS tp,
               max(e.ts) AS tlast,
               any_value(a.t0) AS t0
        FROM anchor a JOIN events e ON e.user_id = a.user_id
        WHERE e.ts IS NOT NULL
        GROUP BY 1
    ),
    spells AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS died,
               CASE WHEN tp IS NOT NULL
                    THEN date_diff('day', t0, tp)
                    ELSE date_diff('day', t0, tlast) END AS dur
        FROM outcome
    ),
    grain AS (
        SELECT dur, CAST(sum(died) AS BIGINT) AS d,
               CAST(sum(1 - died) AS BIGINT) AS c
        FROM spells GROUP BY 1
    ),
    risk AS (
        SELECT dur, d, c,
               sum(d + c) OVER () - coalesce(sum(d + c) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_r
        FROM grain
    ),
    terms AS (
        SELECT dur, d, c, n_r,
               (2 * d * 1000000 + n_r) // (2 * n_r) AS h_term,
               (2 * d * 1000000000000 + n_r * n_r) // (2 * n_r * n_r)
                   AS v_term
        FROM risk
    ),
    na AS (
        SELECT dur, d, c, n_r,
               sum(h_term) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h_cum,
               sum(v_term) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_cum
        FROM terms
    )
    SELECT dur AS duration_days,
           CAST(n_r AS BIGINT) AS n_at_risk,
           d AS d_events, c AS c_censored,
           CAST(h_cum AS BIGINT) AS cum_hazard_micro,
           CAST(v_cum AS BIGINT) AS hazard_var_e12,
           CAST(floor(exp(-(CAST(h_cum AS DOUBLE) / 1e6)) * 1e6 + 0.5)
                AS BIGINT) AS fh_survival_e6
    FROM na
    """,
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard over the SAME signup-to-purchase
    spells as survival_kaplan_meier: H(t) = Σ d_i/n_i with its
    variance Σ d_i/n_i², plus the Fleming-Harrington survival
    exp(-H) — the hazard-scale view (KM is the survival-scale one;
    NA is preferred at small risk sets and is what Cox models build
    on). Completes the survival trio (KM curve, log-rank comparison,
    NA hazard).

    Exactness: d and n (at-risk by the PRECEDING-cumulative device)
    are exact integers, each increment rides the half-up integral
    quotient in 1e-6 (hazard) / 1e-12 (variance) units — pure BIGINT
    via bare DIV — and the cumulative is an exact integer RANGE sum
    shared by both engines; only the final exp(-H) display column is
    a shared-verbatim tree. n_r·n_r <= ~1e8 at sf0.1 and the variance
    numerator 2·d·1e12 stays under 2^63 to ~4.6e6 events per duration
    cell (document: drop to e10 past that).

    100 TB plan: identical to KM — user-grain spell build (two keyed
    aggs), duration-grain collapse, windows on the bounded duration
    domain.
    """
    # ts IS NOT NULL at entry (r12): the KM all-null-anchor seam
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    anchor = _signup_anchor(ev)
    outcome = _signup_outcomes(ev, anchor)
    spells = outcome.select(
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
        F.when(
            F.col("tp").isNotNull(),
            F.datediff(F.col("tp"), F.col("t0")),
        )
        .otherwise(F.datediff(F.col("tlast"), F.col("t0")))
        .cast("bigint")
        .alias("dur"),
    )
    grain = spells.groupBy("dur").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.sum(1 - F.col("died")).cast("bigint").alias("c"),
    )
    wprev = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    risk = grain.select(
        "dur",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_r"),
    )
    terms = risk.select(
        "dur",
        "d",
        "c",
        "n_r",
        F.expr("(2 * d * 1000000 + n_r) DIV (2 * n_r)").alias("h_term"),
        F.expr(
            "(2 * d * 1000000000000 + n_r * n_r) DIV (2 * n_r * n_r)"
        ).alias("v_term"),
    )
    wcum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, 0)
    na = terms.select(
        "dur",
        "d",
        "c",
        "n_r",
        F.sum("h_term").over(wcum).alias("h_cum"),
        F.sum("v_term").over(wcum).alias("v_cum"),
    )
    return na.select(
        F.col("dur").alias("duration_days"),
        F.col("n_r").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.col("h_cum").cast("bigint").alias("cum_hazard_micro"),
        F.col("v_cum").cast("bigint").alias("hazard_var_e12"),
        F.expr(
            "CAST(floor(exp(-(CAST(h_cum AS DOUBLE) / 1e6)) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("fh_survival_e6"),
    )


# Theil U2 reports, rewritten r13 (third r12 driver hash mismatch):
# the sqrt-of-wide-decimal-ratio double tree is build-dependent past
# 2^53, so the report is now the SQUARED ratio U2² at e8 — an exact
# integer half-up quotient (same information content: U2² < 1 iff
# U2 < 1, and sqrt is monotone so any downstream threshold on U2
# transposes to U2²). The beats-flags are pure integer comparisons
# (sse_seas < sse_naive; sse_ma3 < 9·sse_naive — the MA3 error is
# carried as (3y - s3) with the 9 folded into the comparison).
_U2SQ_SEAS = q_scaled_halfup("sse_seas", "sse_naive", 10**8)
_U2SQ_SEAS_SQL = sql_q_scaled_halfup("sse_seas", "sse_naive", 10**8)
_U2SQ_MA3 = q_scaled_halfup("sse_ma3", "9 * sse_naive", 10**8)
_U2SQ_MA3_SQL = sql_q_scaled_halfup("sse_ma3", "9 * sse_naive", 10**8)
_U2_BEATS_SEAS = "CAST((sse_seas < sse_naive) AS INTEGER)"
_U2_BEATS_MA3 = "CAST((sse_ma3 < 9 * sse_naive) AS INTEGER)"


@query(
    "forecast_theil_u2_accuracy",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    series AS (
        SELECT row_number() OVER (ORDER BY mon) AS idx, v FROM monthly
    ),
    lagged AS (
        SELECT idx, v,
               lag(v, 1) OVER (ORDER BY idx) AS v1,
               lag(v, 12) OVER (ORDER BY idx) AS v12,
               lag(v, 1) OVER (ORDER BY idx)
                 + lag(v, 2) OVER (ORDER BY idx)
                 + lag(v, 3) OVER (ORDER BY idx) AS s3
        FROM series
    ),
    scored AS (
        SELECT idx, v, v1, v12, s3 FROM lagged WHERE v12 IS NOT NULL
    ),
    sse AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(v - v1 AS HUGEINT) * (v - v1))
                    AS DECIMAL(38,0)) AS sse_naive,
               CAST(sum(CAST(v - v12 AS HUGEINT) * (v - v12))
                    AS DECIMAL(38,0)) AS sse_seas,
               CAST(sum(CAST(3 * v - s3 AS HUGEINT) * (3 * v - s3))
                    AS DECIMAL(38,0)) AS sse_ma3
        FROM scored
    )
    SELECT n AS n_months_scored,
           {sql_wsplit15_hi("sse_naive")} AS sse_naive_c2_hi15,
           {sql_wsplit15_lo("sse_naive")} AS sse_naive_c2_lo15,
           {sql_wsplit15_hi("sse_seas")} AS sse_seasonal_c2_hi15,
           {sql_wsplit15_lo("sse_seas")} AS sse_seasonal_c2_lo15,
           {sql_wsplit15_hi("sse_ma3")} AS sse_ma3_9c2_hi15,
           {sql_wsplit15_lo("sse_ma3")} AS sse_ma3_9c2_lo15,
           {_U2SQ_SEAS_SQL} AS u2sq_seasonal_e8,
           {_U2SQ_MA3_SQL} AS u2sq_ma3_e8,
           {_U2_BEATS_SEAS} AS seasonal_beats_naive,
           {_U2_BEATS_MA3} AS ma3_beats_naive
    FROM sse
    """,
)
def forecast_theil_u2_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 forecast-accuracy statistic on monthly revenue:
    RMSE(model)/RMSE(naive random walk) for two candidate one-step
    forecasters — seasonal-naive (12 months back) and the trailing
    3-month mean — scored on the months where all forecasts exist.
    U2 < 1 means the model beats 'tomorrow = today'; the relative
    yardstick every backtest should report before MAE impresses
    anyone (complements forecast_seasonal_naive_backtest's absolute
    errors with the benchmark-relative view).

    Exactness: all three SSEs are exact integer sums of squared cent
    errors (HUGEINT/DECIMAL(38,0)); the MA3 forecast error is kept
    integral as (3y - s3) with the 9 folded into the comparison.
    The report is U2² at e8 as an EXACT integer half-up quotient
    (q_scaled_halfup, r13 — this query was one of the three r12
    driver hash mismatches under the old sqrt-of-double tree; U2² is
    the same decision statistic since sqrt is monotone), and the
    beats-flags are pure integer comparisons. 100 TB plan: month-grain
    collapse, lag windows on the ~84-row calendar series, 1-row
    reduce.

    r14 report contract: all report columns BIGINT/INT under 2^53 —
    the three SSEs as exact (hi15, lo15) limb pairs (the ma3 term is
    the 9-scaled (3y-s3)² sum, hence the _9c2 suffix); see
    eval_anova_f_oneway's docstring for the driver-divergence
    localization rationale (VERDICT r13 task 1).
    """
    monthly = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mon"))
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("v")
        )
    )
    w = Window.orderBy("mon")
    lagged = monthly.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 12).over(w).alias("v12"),
        (
            F.lag("v", 1).over(w) + F.lag("v", 2).over(w) + F.lag("v", 3).over(w)
        ).alias("s3"),
    ).filter(F.col("v12").isNotNull())
    sse = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(v - v1 AS DECIMAL(38,0)) * (v - v1)"))
        .cast("decimal(38,0)")
        .alias("sse_naive"),
        F.sum(F.expr("CAST(v - v12 AS DECIMAL(38,0)) * (v - v12)"))
        .cast("decimal(38,0)")
        .alias("sse_seas"),
        F.sum(F.expr("CAST(3 * v - s3 AS DECIMAL(38,0)) * (3 * v - s3)"))
        .cast("decimal(38,0)")
        .alias("sse_ma3"),
    )
    return sse.select(
        F.col("n").alias("n_months_scored"),
        F.expr(wsplit15_hi("sse_naive")).alias("sse_naive_c2_hi15"),
        F.expr(wsplit15_lo("sse_naive")).alias("sse_naive_c2_lo15"),
        F.expr(wsplit15_hi("sse_seas")).alias("sse_seasonal_c2_hi15"),
        F.expr(wsplit15_lo("sse_seas")).alias("sse_seasonal_c2_lo15"),
        F.expr(wsplit15_hi("sse_ma3")).alias("sse_ma3_9c2_hi15"),
        F.expr(wsplit15_lo("sse_ma3")).alias("sse_ma3_9c2_lo15"),
        F.expr(_U2SQ_SEAS).alias("u2sq_seasonal_e8"),
        F.expr(_U2SQ_MA3).alias("u2sq_ma3_e8"),
        F.expr(_U2_BEATS_SEAS).alias("seasonal_beats_naive"),
        F.expr(_U2_BEATS_MA3).alias("ma3_beats_naive"),
    )


# DeLong trees shared VERBATIM Spark/oracle over exact integer
# placement sums (scale-0 decimal -> double): auc, then
# var = S10/(2n)²/m + S01/(2m)²/n with S = sample variance of the
# doubled placements.
# nullif denominators (r10): a single-class or single-member slice
# makes m, n, m-1 or n-1 zero — Spark ANSI raises, DuckDB yields NULL;
# these strings are SHARED verbatim into both engines, so the nullif
# keeps them identical (and is a no-op on any non-degenerate slice).
# r13 class rule: no bare wide-DECIMAL(38,0)->double casts anywhere —
# sq10sq/sq01sq stay under 2^53 at graded SFs (~5e14 at sf0.1) but are
# DECIMAL(38,0) sums that would cross it at sf1, so they ride the d53
# split; sq10/sq01 (~1e9 at sf0.01) grow as n·m — quadratic — and
# cross 2^53 around sf1 too, so they ride it as well (plan-lint R9).
def _dl_auc(cv) -> str:
    return (
        f"({cv('sq10')}"
        " / nullif(2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE), 0))"
    )


def _dl_var(cv) -> str:
    return (
        f"(({cv('sq10sq')} - {cv('sq10')} * {cv('sq10')}"
        " / nullif(CAST(m AS DOUBLE), 0)) / nullif(CAST(m AS DOUBLE) - 1.0, 0)"
        " / nullif(4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE), 0)"
        " / nullif(CAST(m AS DOUBLE), 0)"
        f" + ({cv('sq01sq')} - {cv('sq01')} * {cv('sq01')}"
        " / nullif(CAST(n AS DOUBLE), 0)) / nullif(CAST(n AS DOUBLE) - 1.0, 0)"
        " / nullif(4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE), 0)"
        " / nullif(CAST(n AS DOUBLE), 0))"
    )


_DL_AUC = _dl_auc(d53)
_DL_AUC_SQL = _dl_auc(sql_d53)
_DL_VAR = _dl_var(d53)
_DL_VAR_SQL = _dl_var(sql_d53)
_DL_Z = "1.959963984540054"


@query(
    "eval_auc_delong_ci",
    oracle=f"""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ), g AS (
        SELECT score,
               CAST(sum(y) AS BIGINT) AS np_s,
               CAST(sum(1 - y) AS BIGINT) AS nn_s
        FROM s GROUP BY score
    ), cum AS (
        SELECT score, np_s, nn_s,
               CAST(COALESCE(sum(nn_s) OVER (ORDER BY score
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS nn_lt,
               CAST(COALESCE(sum(np_s) OVER (ORDER BY score
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS np_lt,
               CAST(sum(np_s) OVER () AS BIGINT) AS m,
               CAST(sum(nn_s) OVER () AS BIGINT) AS n
        FROM g
    ), placed AS (
        SELECT np_s, nn_s, m, n,
               2 * nn_lt + nn_s AS q10,
               2 * (m - np_lt - np_s) + np_s AS q01
        FROM cum
    ), agg AS (
        SELECT CAST(max(m) AS BIGINT) AS m, CAST(max(n) AS BIGINT) AS n,
               CAST(sum(CAST(np_s AS HUGEINT) * q10) AS DECIMAL(38,0))
                   AS sq10,
               CAST(sum(CAST(np_s AS HUGEINT) * q10 * q10) AS DECIMAL(38,0))
                   AS sq10sq,
               CAST(sum(CAST(nn_s AS HUGEINT) * q01) AS DECIMAL(38,0))
                   AS sq01,
               CAST(sum(CAST(nn_s AS HUGEINT) * q01 * q01) AS DECIMAL(38,0))
                   AS sq01sq
        FROM placed
    )
    SELECT m AS n_pos, n AS n_neg,
           CAST(floor({_DL_AUC_SQL} * 1e6 + 0.5) AS BIGINT) AS auc_e6,
           CAST(floor(sqrt({_DL_VAR_SQL}) * 1e6 + 0.5) AS BIGINT) AS se_e6,
           CAST(floor(({_DL_AUC_SQL} - {_DL_Z} * sqrt({_DL_VAR_SQL})) * 1e6 + 0.5)
                AS BIGINT) AS ci_lo_e6,
           CAST(floor(({_DL_AUC_SQL} + {_DL_Z} * sqrt({_DL_VAR_SQL})) * 1e6 + 0.5)
                AS BIGINT) AS ci_hi_e6
    FROM agg
    """,
)
def eval_auc_delong_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong confidence interval for the ROC-AUC — the standard error
    every AUC should ship with (eval_roc_auc_scores reports the point
    estimate; a 0.71 vs 0.73 comparison is noise until DeLong says
    otherwise). The structural-component method: each positive's
    placement V10 (fraction of negatives ranked below it, ties half)
    and each negative's V01; var(AUC) = S10/m + S01/n over the
    placement sample variances.

    Exactness: on the collapsed distinct-score grain, DOUBLED
    placements are exact integers (q10 = 2·nn_lt + nn_s — the MW/AUC
    half-unit device), so Σq, Σq² per class are exact
    HUGEINT/DECIMAL(38,0) sums; AUC, se, and the Wald CI are
    shared-verbatim IEEE trees over scale-0 decimal -> double casts
    (sqrt correctly rounded, z as a literal). Internal identity:
    sq10/(2nm) = sq01/(2mn) = AUC — pinned by the unit test.

    100 TB plan: identical to eval_roc_auc_scores — one hash collapse
    to the score domain, TWO cumulative windows sharing the one
    bounded sort, a 1-row reduce.
    """
    g = _score_counts(spark, sf_dir, "y", "np_s", "nn_s")
    word = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy()
    cum = g.select(
        "np_s",
        "nn_s",
        F.coalesce(F.sum("nn_s").over(word), F.lit(0)).cast("bigint").alias("nn_lt"),
        F.coalesce(F.sum("np_s").over(word), F.lit(0)).cast("bigint").alias("np_lt"),
        F.sum("np_s").over(wall).cast("bigint").alias("m"),
        F.sum("nn_s").over(wall).cast("bigint").alias("n"),
    )
    placed = cum.select(
        "np_s",
        "nn_s",
        "m",
        "n",
        (2 * F.col("nn_lt") + F.col("nn_s")).alias("q10"),
        (2 * (F.col("m") - F.col("np_lt") - F.col("np_s")) + F.col("np_s")).alias(
            "q01"
        ),
    )
    agg = placed.agg(
        F.max("m").cast("bigint").alias("m"),
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.expr("CAST(np_s AS DECIMAL(38,0)) * q10"))
        .cast("decimal(38,0)")
        .alias("sq10"),
        F.sum(F.expr("CAST(np_s AS DECIMAL(38,0)) * q10 * q10"))
        .cast("decimal(38,0)")
        .alias("sq10sq"),
        F.sum(F.expr("CAST(nn_s AS DECIMAL(38,0)) * q01"))
        .cast("decimal(38,0)")
        .alias("sq01"),
        F.sum(F.expr("CAST(nn_s AS DECIMAL(38,0)) * q01 * q01"))
        .cast("decimal(38,0)")
        .alias("sq01sq"),
    )
    return agg.select(
        F.col("m").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.expr(f"CAST(floor({_DL_AUC} * 1e6 + 0.5) AS BIGINT)").alias("auc_e6"),
        F.expr(f"CAST(floor(sqrt({_DL_VAR}) * 1e6 + 0.5) AS BIGINT)").alias(
            "se_e6"
        ),
        F.expr(
            f"CAST(floor(({_DL_AUC} - {_DL_Z} * sqrt({_DL_VAR})) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("ci_lo_e6"),
        F.expr(
            f"CAST(floor(({_DL_AUC} + {_DL_Z} * sqrt({_DL_VAR})) * 1e6 + 0.5)"
            " AS BIGINT)"
        ).alias("ci_hi_e6"),
    )


# CMH trees over exact micro-integer sums (shared VERBATIM).
_CMH_CHI2 = (
    "((abs(CAST(sum_a AS DOUBLE) - CAST(e_micro AS DOUBLE) / 1e6) - 0.5)"
    " * (abs(CAST(sum_a AS DOUBLE) - CAST(e_micro AS DOUBLE) / 1e6) - 0.5)"
    " / (CAST(v_micro AS DOUBLE) / 1e6))"
)
_CMH_OR = "(CAST(ad_micro AS DOUBLE) / CAST(bc_micro AS DOUBLE))"
_CMH_CRIT = "3.841458820694124"  # chi2(1) 95th percentile


@query(
    "eval_cmh_stratified",
    oracle=f"""
    WITH base AS (
        SELECT c.c_mktsegment AS stratum,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS exposed,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS outcome
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    cells AS (
        SELECT stratum,
               CAST(sum(exposed * outcome) AS BIGINT) AS a,
               CAST(sum(exposed * (1 - outcome)) AS BIGINT) AS b,
               CAST(sum((1 - exposed) * outcome) AS BIGINT) AS c,
               CAST(sum((1 - exposed) * (1 - outcome)) AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY 1
    ),
    terms AS (
        SELECT stratum, a,
               (2 * (a + b) * (a + c) * 1000000 + n) // (2 * n) AS e_t,
               (2 * CAST((a + b) AS HUGEINT) * (c + d) * (a + c) * (b + d)
                    * 1000000 + CAST(n AS HUGEINT) * n * (n - 1))
                   // (2 * CAST(n AS HUGEINT) * n * (n - 1)) AS v_t,
               (2 * CAST(a AS HUGEINT) * d * 1000000 + n) // (2 * n) AS ad_t,
               (2 * CAST(b AS HUGEINT) * c * 1000000 + n) // (2 * n) AS bc_t
        FROM cells
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k_strata,
               CAST(sum(a) AS BIGINT) AS sum_a,
               CAST(sum(e_t) AS BIGINT) AS e_micro,
               CAST(sum(v_t) AS BIGINT) AS v_micro,
               CAST(sum(ad_t) AS BIGINT) AS ad_micro,
               CAST(sum(bc_t) AS BIGINT) AS bc_micro
        FROM terms
    )
    SELECT k_strata, sum_a, e_micro, v_micro,
           CAST(floor({_CMH_CHI2} * 1e4 + 0.5) AS BIGINT) AS cmh_chi2_e4,
           CAST(floor({_CMH_OR} * 1e4 + 0.5) AS BIGINT) AS or_mh_e4,
           CAST(CASE WHEN {_CMH_CHI2} > {_CMH_CRIT} THEN 1 ELSE 0 END
                AS INTEGER) AS assoc_5pct
    FROM agg
    """,
)
def eval_cmh_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test for a 2x2 association (urgent
    priority -> fulfilled status) CONTROLLED for the market-segment
    stratum, with the Mantel-Haenszel pooled odds ratio — the remedy
    for exactly the confounding dq_simpsons_paradox_audit detects:
    when the pooled sign flips against the within-group signs, CMH is
    the test that weighs the strata correctly (continuity-corrected,
    1 df).

    Exactness: per-stratum E = r1·c1/n, V = r1·r0·c1·c0/(n²(n-1)), and
    the MH numerator/denominator ad/n, bc/n all ride the half-up
    integral-quotient device in 1e-6 units (HUGEINT/DECIMAL products;
    quotients fit BIGINT so bare DIV is safe), summed exactly across
    strata; chi², OR, and the verdict are shared-verbatim IEEE trees
    over the exact micro sums. 100 TB plan: one keyed join, one
    5-stratum conditional-count reduce — map-side everything.
    """
    base = (
        load(spark, sf_dir, "orders")
        .join(
            load(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("stratum"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            )
            .otherwise(0)
            .alias("exposed"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("outcome"),
        )
    )
    cells = base.groupBy("stratum").agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    terms = cells.select(
        "stratum",
        "a",
        F.expr("(2 * (a + b) * (a + c) * 1000000 + n) DIV (2 * n)").alias("e_t"),
        F.expr(
            "(2 * CAST((a + b) AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)"
            " * 1000000 + CAST(n AS DECIMAL(38,0)) * n * (n - 1))"
            " DIV (2 * CAST(n AS DECIMAL(38,0)) * n * (n - 1))"
        ).alias("v_t"),
        F.expr("(2 * CAST(a AS DECIMAL(38,0)) * d * 1000000 + n) DIV (2 * n)").alias(
            "ad_t"
        ),
        F.expr("(2 * CAST(b AS DECIMAL(38,0)) * c * 1000000 + n) DIV (2 * n)").alias(
            "bc_t"
        ),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_strata"),
        F.sum("a").cast("bigint").alias("sum_a"),
        F.sum("e_t").cast("bigint").alias("e_micro"),
        F.sum("v_t").cast("bigint").alias("v_micro"),
        F.sum("ad_t").cast("bigint").alias("ad_micro"),
        F.sum("bc_t").cast("bigint").alias("bc_micro"),
    )
    return agg.select(
        "k_strata",
        "sum_a",
        "e_micro",
        "v_micro",
        F.expr(f"CAST(floor({_CMH_CHI2} * 1e4 + 0.5) AS BIGINT)").alias(
            "cmh_chi2_e4"
        ),
        F.expr(f"CAST(floor({_CMH_OR} * 1e4 + 0.5) AS BIGINT)").alias("or_mh_e4"),
        F.expr(
            f"CAST(CASE WHEN {_CMH_CHI2} > {_CMH_CRIT} THEN 1 ELSE 0 END"
            " AS INTEGER)"
        ).alias("assoc_5pct"),
    )


TOST_MARGIN_CENTS = 500.0  # +-$5 equivalence margin on mean order value
_TOST_SE = "sqrt(sea + seb)"
_TOST_T_LOW = (
    f"CAST(floor((md + {TOST_MARGIN_CENTS}) / {_TOST_SE} * 1e4 + 0.5)"
    " AS BIGINT)"
)
_TOST_T_HIGH = (
    f"CAST(floor(({TOST_MARGIN_CENTS} - md) / {_TOST_SE} * 1e4 + 0.5)"
    " AS BIGINT)"
)
_TOST_Z90 = "1.6448536269514722"  # one-sided 5% normal quantile


@query(
    "ab_tost_equivalence",
    oracle=f"""
    WITH j AS (
        SELECT CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS a
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
    ),
    g1 AS (
        SELECT a, cents, count(*) AS cnt FROM j GROUP BY 1, 2
    ),
    cen AS (
        SELECT a, cents, cnt,
               cents - (sum(cents * cnt) OVER () // sum(cnt) OVER ()) AS d
        FROM g1
    ),
    tot AS (
        SELECT CAST(sum(CASE WHEN a = 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN a = 0 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN a = 1 THEN cnt * d ELSE 0 END) AS BIGINT)
                   AS d1_a,
               CAST(sum(CASE WHEN a = 0 THEN cnt * d ELSE 0 END) AS BIGINT)
                   AS d1_b,
               CAST(sum(CASE WHEN a = 1 THEN CAST(cnt AS HUGEINT) * d * d
                             ELSE 0 END) AS DECIMAL(38,0)) AS d2_a,
               CAST(sum(CASE WHEN a = 0 THEN CAST(cnt AS HUGEINT) * d * d
                             ELSE 0 END) AS DECIMAL(38,0)) AS d2_b
        FROM cen
    ),
    staged AS (
        SELECT n_a, n_b,
               {_WELCH_MD} AS md,
               {_WELCH_SE_A_SQL} AS sea,
               {_WELCH_SE_B_SQL} AS seb
        FROM tot
    )
    SELECT n_a, n_b,
           CAST(floor(md * 1e2 + 0.5) AS BIGINT) AS mean_diff_cents_e2,
           {_TOST_T_LOW} AS t_lower_e4,
           {_TOST_T_HIGH} AS t_upper_e4,
           CAST(CASE WHEN (md + {TOST_MARGIN_CENTS}) / {_TOST_SE}
                          > {_TOST_Z90}
                      AND ({TOST_MARGIN_CENTS} - md) / {_TOST_SE}
                          > {_TOST_Z90}
                     THEN 1 ELSE 0 END AS INTEGER) AS equivalent_90pct
    FROM staged
    """,
)
def ab_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on AUTOMOBILE vs
    HOUSEHOLD mean order value with a ±{TOST_MARGIN_CENTS:.0f}-cent
    margin: the inferential OPPOSITE of eval_welch_t_test — failing to
    reject 'different' never proves 'the same'; TOST does, by
    rejecting both 'below -margin' and 'above +margin' (Schuirmann,
    90% equivalence at one-sided 5%). The A/B family's
    do-no-harm gate: ship the cheaper variant only when TOST PASSES.

    Exactness: reuses eval_welch_t_test's sufficient-statistic device
    verbatim (shared global floor-mean centering, exact BIGINT /
    scale-0 DECIMAL sums, the _WELCH_* shared trees for md and the
    squared standard errors); both one-sided t's and the verdict are
    shared-verbatim trees with the margin and normal quantile as
    literals. 100 TB plan: identical to Welch — one keyed join, one
    collapse, one 1-row reduce.
    """
    tot = _two_segment_moments(spark, sf_dir, "AUTOMOBILE", "HOUSEHOLD")
    staged = tot.select(
        "n_a",
        "n_b",
        F.expr(_WELCH_MD).alias("md"),
        F.expr(_WELCH_SE_A).alias("sea"),
        F.expr(_WELCH_SE_B).alias("seb"),
    )
    return staged.select(
        "n_a",
        "n_b",
        F.expr("CAST(floor(md * 1e2 + 0.5) AS BIGINT)").alias(
            "mean_diff_cents_e2"
        ),
        F.expr(_TOST_T_LOW).alias("t_lower_e4"),
        F.expr(_TOST_T_HIGH).alias("t_upper_e4"),
        F.expr(
            f"CAST(CASE WHEN (md + {TOST_MARGIN_CENTS}) / {_TOST_SE}"
            f" > {_TOST_Z90}"
            f" AND ({TOST_MARGIN_CENTS} - md) / {_TOST_SE} > {_TOST_Z90}"
            " THEN 1 ELSE 0 END AS INTEGER)"
        ).alias("equivalent_90pct"),
    )


BT_ITERS = 3
BT_PPM = 1_000_000


def _bt_oracle() -> str:
    """Unrolled Bradley-Terry MM iterations (Hunter 2004), the HITS
    scaffolding: per-round 12dp-rounded decimal term sums (order-free),
    identical double update, integer max-renormalization."""
    sql = ["""
    WITH RECURSIVE monthly AS MATERIALIZED (
        SELECT p.p_brand AS brand, date_trunc('month', o.o_orderdate) AS mon,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(25,6))) * 1000000 AS BIGINT) AS v
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY 1, 2
    ),
    duels AS MATERIALIZED (
        SELECT a.brand AS i, b.brand AS j,
               CAST(sum(CASE WHEN a.v > b.v THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ij
        FROM monthly a JOIN monthly b
          ON a.mon = b.mon AND a.brand <> b.brand
        WHERE a.v <> b.v
        GROUP BY 1, 2
    ),
    wins AS MATERIALIZED (
        SELECT i AS brand, CAST(sum(n_ij) AS BIGINT) AS w_total
        FROM duels GROUP BY 1
    ),
    w0 AS MATERIALIZED (
        SELECT brand, CAST(1000000 AS BIGINT) AS w FROM wins
    )"""]
    prev = "w0"
    for r in range(1, BT_ITERS + 1):
        sql.append(f""",
    den{r} AS MATERIALIZED (
        SELECT d.i AS brand,
               sum(CAST(round(CAST(d.n_ij + d2.n_ij AS DOUBLE)
                        / (CAST(wi.w AS DOUBLE) + CAST(wj.w AS DOUBLE)), 12)
                        AS DECIMAL(25,12))) AS den
        FROM duels d
        JOIN duels d2 ON d2.i = d.j AND d2.j = d.i
        JOIN {prev} wi ON wi.brand = d.i
        JOIN {prev} wj ON wj.brand = d.j
        GROUP BY 1
    ),
    raw{r} AS MATERIALIZED (
        SELECT w.brand,
               CAST(w.w_total AS DOUBLE) / {sql_d53s('d.den', 12)} AS r
        FROM wins w JOIN den{r} d ON d.brand = w.brand
    ),
    w{r} AS MATERIALIZED (
        SELECT brand,
               CAST(floor(r / (SELECT max(r) FROM raw{r}) * {BT_PPM} + 0.5)
                    AS BIGINT) AS w
        FROM raw{r}
    )""")
        prev = f"w{r}"
    sql.append(f"""
    SELECT w.brand AS p_brand, win.w_total AS n_wins, w.w AS strength_ppm,
           CAST(row_number() OVER (ORDER BY w.w DESC, w.brand) AS BIGINT)
               AS rank
    FROM w{BT_ITERS} w JOIN wins win ON win.brand = w.brand
    ORDER BY rank
    """)
    return "".join(sql)


@query("eval_bradley_terry_strengths", oracle=_bt_oracle())
def eval_bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry paired-comparison strengths for the 25 part
    brands, learned from monthly revenue DUELS (brand i beats brand j
    in any month where i out-earned j): {BT_ITERS} rounds of Hunter's
    MM update w_i <- W_i / Σ_j (n_ij+n_ji)/(w_i+w_j) — the model
    behind chess Elo-style leaderboards, preference learning, and
    LLM arena rankings, here as a pure DataFrame iteration. A
    league-table that accounts for WHO you beat, unlike the raw win
    count it's reported beside.

    Exactness (the iterative-float contract, cf. graph module
    docstring): strengths are exact 1e6 fixed-point integers at every
    round boundary; each MM denominator term divides integer-derived
    doubles and rounds to 12dp DECIMAL before the ORDER-FREE decimal
    sum; the update ratio and the max-renormalization floor are
    identical IEEE trees both engines (1-row max anchor per round,
    HITS-style). Duels/wins matrices are exact integers from exact
    micro-cent revenue.

    100 TB plan: the data-sized stage is one (brand, month) collapse;
    duels live on the 25x25xcalendar grid, each MM round is two tiny
    keyed joins + a brand-grain agg — zero driver round trips;
    checkpoints per round stop the two-reference lineage doubling.
    """
    monthly = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "part").select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
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
            ).alias("v")
        )
        # ckpt-grain: bounded — brand x month grain
        .localCheckpoint(eager=False)
    )
    a = monthly.select(
        F.col("brand").alias("i"), F.col("mon").alias("mon_a"), F.col("v").alias("va")
    )
    b = monthly.select(
        F.col("brand").alias("j"), F.col("mon").alias("mon_b"), F.col("v").alias("vb")
    )
    duels = (
        a.join(
            b,
            (F.col("mon_a") == F.col("mon_b"))
            & (F.col("i") != F.col("j"))
            & (F.col("va") != F.col("vb")),
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_ij")
        )
        # ckpt-grain: bounded — brand-pair duel grain
        .localCheckpoint(eager=False)
    )
    wins = duels.groupBy(F.col("i").alias("brand")).agg(
        F.sum("n_ij").cast("bigint").alias("w_total")
    # ckpt-grain: bounded — brand-grain win totals
    ).localCheckpoint(eager=False)
    w = wins.select("brand", F.lit(BT_PPM).cast("bigint").alias("w"))
    rev = duels.select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("n_ij").alias("n_ji")
    )
    pair_n = duels.join(rev, ["i", "j"]).select(
        "i", "j", (F.col("n_ij") + F.col("n_ji")).alias("n_pair")
    # ckpt-grain: bounded — brand-pair grain
    ).localCheckpoint(eager=False)
    for _ in range(BT_ITERS):
        wi = w.select(F.col("brand").alias("i"), F.col("w").alias("wi"))
        wj = w.select(F.col("brand").alias("j"), F.col("w").alias("wj"))
        den = (
            pair_n.join(F.broadcast(wi), "i")
            .join(F.broadcast(wj), "j")
            .groupBy(F.col("i").alias("brand"))
            .agg(
                F.sum(
                    F.expr(
                        "CAST(round(CAST(n_pair AS DOUBLE)"
                        " / (CAST(wi AS DOUBLE) + CAST(wj AS DOUBLE)), 12)"
                        " AS DECIMAL(25,12))"
                    )
                ).alias("den")
            )
        )
        raw = wins.join(den, "brand").select(
            "brand",
            # r13 (R9-prechk): den is DECIMAL(35,12) whose unscaled
            # value scales with duel counts — the bare ->DOUBLE cast
            # is the engine int128 path that broke ANOVA in r12, with
            # only ~4x headroom under 2^53 at sf0.1. d53s is the
            # deterministic split conversion (bit-identical to the
            # bare cast while under 2^53, engine-stable past it).
            F.expr(f"CAST(w_total AS DOUBLE) / {d53s('den', 12)}").alias("r"),
        # ckpt-grain: iterative-loop — Bradley-Terry fixed-point state, brand grain per round
        ).localCheckpoint(eager=False)
        mx = raw.agg(F.max("r").alias("mx"))
        w = raw.crossJoin(F.broadcast(mx)).select(
            "brand",
            F.expr(f"CAST(floor(r / mx * {BT_PPM} + 0.5) AS BIGINT)").alias("w"),
        )
    out = w.join(wins, "brand").select(
        F.col("brand").alias("p_brand"),
        F.col("w_total").alias("n_wins"),
        F.col("w").alias("strength_ppm"),
    )
    return out.select(
        "p_brand",
        "n_wins",
        "strength_ppm",
        F.row_number()
        .over(Window.orderBy(F.desc("strength_ppm"), F.asc("p_brand")))
        .cast("bigint")
        .alias("rank"),
    ).orderBy("rank")


@query(
    "eval_harrell_c_index",
    oracle="""
    WITH sig AS (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'signup' AND ts IS NOT NULL
    ), anchor AS (
        SELECT user_id AS uid, ts AS t0,
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   AS score_u
        -- score IS NOT NULL (r10 nulls audit): a NULL risk score
        -- cannot rank (the decile ntile's NULL placement is
        -- engine-divergent); users without a scored signup are
        -- excluded from concordance on both engines
        FROM sig WHERE rn = 1 AND value IS NOT NULL
    ), outcome AS (
        SELECT e.user_id,
               min(CASE WHEN e.event_type = 'purchase' AND e.ts > a.t0
                        THEN e.ts END) AS tp,
               max(e.ts) AS tlast,
               any_value(a.t0) AS t0,
               any_value(a.score_u) AS score_u
        FROM anchor a JOIN events e ON e.user_id = a.uid
        WHERE e.ts IS NOT NULL
        GROUP BY 1
    ), units AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS died,
               CASE WHEN tp IS NOT NULL
                    THEN date_diff('day', t0, tp)
                    ELSE date_diff('day', t0, tlast) END AS dur,
               score_u
        FROM outcome
    ), bucketed AS (
        SELECT died, dur,
               ntile(10) OVER (ORDER BY score_u, user_id) AS bucket
        FROM units
    ), cells AS (
        SELECT dur, bucket, count(*) AS n_all,
               CAST(sum(died) AS BIGINT) AS n_ev
        FROM bucketed GROUP BY 1, 2
    ), grid AS (
        SELECT t.dur, b.bucket,
               coalesce(c.n_all, 0) AS n_all, coalesce(c.n_ev, 0) AS n_ev
        FROM (SELECT DISTINCT dur FROM cells) t
        CROSS JOIN (VALUES (1),(2),(3),(4),(5),
                           (6),(7),(8),(9),(10)) b(bucket)
        LEFT JOIN cells c ON c.dur = t.dur AND c.bucket = b.bucket
    ), s AS (
        SELECT dur, bucket, n_all, n_ev,
               sum(n_all) OVER (PARTITION BY bucket)
               - sum(n_all) OVER (PARTITION BY bucket ORDER BY dur
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS s_gt
        FROM grid
    ), g AS (
        SELECT n_all, n_ev, s_gt,
               coalesce(sum(s_gt) OVER (PARTITION BY dur ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS g_lt,
               sum(s_gt) OVER (PARTITION BY dur) AS g_all
        FROM s
    )
    SELECT CAST(sum(n_all) AS BIGINT) AS n_units,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(sum(n_ev * g_all) AS BIGINT) AS comparable_pairs,
           CAST(sum(n_ev * g_lt) AS BIGINT) AS concordant_pairs,
           CAST(sum(n_ev * s_gt) AS BIGINT) AS tied_score_pairs,
           CAST((2 * (2 * sum(n_ev * g_lt) + sum(n_ev * s_gt)) * 10000
                 + 2 * sum(n_ev * g_all))
                // (4 * sum(n_ev * g_all)) AS BIGINT) AS c_index_bp
    FROM g
    """,
)
def eval_harrell_c_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harrell's concordance index (C-index) for the signup→purchase
    survival problem: does a risk score known AT SIGNUP TIME (the
    signup event's value, decile-bucketed) rank users by how fast they
    convert? The censoring-aware ordering metric every survival model
    is graded by — bridges the survival family (same spell convention
    as survival_kaplan_meier: right-censored at last observed event)
    and the eval family (AUC's time-to-event generalization; C-index
    over uncensored data IS the AUC placement construction of
    eval_auc_delong_ci).

    Contract (documented, both engines + the Python pin share it):
    comparable pairs are (event i, any j) with dur_j > dur_i strictly
    (time ties excluded); concordant when the slower j carries a
    STRICTLY lower risk decile; same-decile pairs credit 1/2. All
    counting is exact integers: never the O(n²) pair join — events
    fold to (duration x decile) cells, partners-later counts come from
    complement-of-running-sum windows (the at-risk device), and the
    cross-decile strict/tied splits are a 10-step cumulative on the
    dense duration x 10 grid. c_index_bp is the half-up basis-point
    report of (concordant + ties/2) / comparable.

    100 TB: two shuffles to the user grain, then everything lives on
    the calendar x 10 grid (bounded by observation days, not users).
    The global decile ntile is the one total-ordering step — at
    cluster scale the same contract runs with broadcast approx-quantile
    boundaries instead (documented trade; exactness here pins the
    semantics).
    """
    # null-ts device (r11): no position on the survival timeline
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type", "value", "event_id")
    )
    wsig = Window.partitionBy("user_id").orderBy("ts", "event_id")
    anchor = (
        ev.filter(F.col("event_type") == "signup")
        .withColumn("rn", F.row_number().over(wsig))
        # NULL risk scores cannot rank (deciles' NULL placement is
        # engine-divergent) — excluded on both engines (r10)
        .filter((F.col("rn") == 1) & F.col("value").isNotNull())
        .select(
            F.col("user_id").alias("uid"),
            F.col("ts").alias("t0"),
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")
            .alias("score_u"),
        )
    )
    outcome = (
        ev.join(anchor, F.col("user_id") == F.col("uid"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t0")),
                    F.col("ts"),
                )
            ).alias("tp"),
            F.max("ts").alias("tlast"),
            F.any_value("t0").alias("t0"),
            F.any_value("score_u").alias("score_u"),
        )
    )
    units = outcome.select(
        "user_id",
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("died"),
        F.when(F.col("tp").isNotNull(), F.datediff("tp", "t0"))
        .otherwise(F.datediff("tlast", "t0"))
        .alias("dur"),
        "score_u",
    )
    bucketed = units.select(
        "died",
        "dur",
        F.ntile(10).over(Window.orderBy("score_u", "user_id")).alias("bucket"),
    )
    # r8: cells (bounded dur x bucket grain) feeds the event-time set
    # AND the grid join — checkpoint so the per-user fold runs once
    cells = bucketed.groupBy("dur", "bucket").agg(
        F.count("*").alias("n_all"), F.sum("died").cast("long").alias("n_ev")
    # ckpt-grain: bounded — duration x decile grain
    ).localCheckpoint(eager=False)
    times = cells.select("dur").distinct()
    bgrid = spark.range(1, 11).select(F.col("id").cast("int").alias("bucket"))
    grid = (
        times.crossJoin(F.broadcast(bgrid))
        .join(cells, ["dur", "bucket"], "left")
        .select(
            "dur",
            "bucket",
            F.coalesce("n_all", F.lit(0)).alias("n_all"),
            F.coalesce("n_ev", F.lit(0)).alias("n_ev"),
        )
    )
    wtotb = Window.partitionBy("bucket")
    wcum = Window.partitionBy("bucket").orderBy("dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    s = grid.withColumn(
        "s_gt", F.sum("n_all").over(wtotb) - F.sum("n_all").over(wcum)
    )
    wblt = Window.partitionBy("dur").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wdall = Window.partitionBy("dur")
    g = s.select(
        "n_all",
        "n_ev",
        "s_gt",
        F.coalesce(F.sum("s_gt").over(wblt), F.lit(0)).alias("g_lt"),
        F.sum("s_gt").over(wdall).alias("g_all"),
    )
    return g.agg(
        F.sum("n_all").cast("bigint").alias("n_units"),
        F.sum("n_ev").cast("bigint").alias("n_events"),
        F.sum(F.col("n_ev") * F.col("g_all")).cast("bigint").alias("comparable_pairs"),
        F.sum(F.col("n_ev") * F.col("g_lt")).cast("bigint").alias("concordant_pairs"),
        F.sum(F.col("n_ev") * F.col("s_gt")).cast("bigint").alias("tied_score_pairs"),
        F.expr(
            "CAST((2 * (2 * sum(n_ev * g_lt) + sum(n_ev * s_gt)) * 10000"
            " + 2 * sum(n_ev * g_all)) DIV (4 * sum(n_ev * g_all)) AS BIGINT)"
        ).alias("c_index_bp"),
    )


# CUPED trees over the exact integer sufficient stats. r13: the
# second-moment sums sxx/syy/sxy (squared per-customer annual cents,
# ~2.5e20 at sf0.01) are past 2^53 and enter through the per-engine
# d53 split; sx/sy (~1e11 at sf0.01) ALSO ride it — a global cents sum
# crosses 2^53 around sf400, inside the 100 TB design envelope, and
# their DECIMAL(38,0) type puts the bare cast in plan-lint R9's class.
# Every division and product below is one identical IEEE tree in both
# engines.
def _cuped_theta_num(cv) -> str:
    return (
        f"(CAST(n AS DOUBLE) * {cv('sxy')}"
        f" - {cv('sx')} * {cv('sy')})"
    )


def _cuped_varx(cv) -> str:
    return (
        f"(CAST(n AS DOUBLE) * {cv('sxx')}"
        f" - {cv('sx')} * {cv('sx')})"
    )


def _cuped_vary(cv) -> str:
    return (
        f"(CAST(n AS DOUBLE) * {cv('syy')}"
        f" - {cv('sy')} * {cv('sy')})"
    )


_CUPED_THETA_NUM = _cuped_theta_num(d53)
_CUPED_THETA_NUM_SQL = _cuped_theta_num(sql_d53)
_CUPED_VARX = _cuped_varx(d53)
_CUPED_VARX_SQL = _cuped_varx(sql_d53)
_CUPED_VARY = _cuped_vary(d53)
_CUPED_VARY_SQL = _cuped_vary(sql_d53)
# nullif variances (r10): a single-user or constant-covariate slice
# zeroes VARX/VARY — Spark ANSI raises, DuckDB yields NULL; shared
# verbatim, both engines stay identical (no-op with any variance).
def _cuped_theta_e6(tn, vx) -> str:
    return f"CAST(floor({tn} / nullif({vx}, 0) * 1e6 + 0.5) AS BIGINT)"


def _cuped_rho2_bp(tn, vx, vy) -> str:
    return (
        f"CAST(floor({tn} * {tn}"
        f" / nullif({vx} * {vy}, 0) * 1e4 + 0.5) AS BIGINT)"
    )


def _cuped_adj_micro(tn, vx, cv) -> str:
    # r13: sya/syb/sxa/sxb are per-arm DECIMAL(38,0) cents sums — the
    # same >2^53-at-scale class as sx/sy, so they ride the d53 split.
    return (
        f"CAST(floor((({cv('sya')} / nullif(CAST(na AS DOUBLE), 0)"
        f" - {cv('syb')} / nullif(CAST(nb AS DOUBLE), 0))"
        f" - {tn} / nullif({vx}, 0)"
        f" * ({cv('sxa')} / nullif(CAST(na AS DOUBLE), 0)"
        f" - {cv('sxb')} / nullif(CAST(nb AS DOUBLE), 0)))"
        " * 1e6 + 0.5) AS BIGINT)"
    )


_CUPED_THETA_E6 = _cuped_theta_e6(_CUPED_THETA_NUM, _CUPED_VARX)
_CUPED_THETA_E6_SQL = _cuped_theta_e6(_CUPED_THETA_NUM_SQL, _CUPED_VARX_SQL)
_CUPED_RHO2_BP = _cuped_rho2_bp(_CUPED_THETA_NUM, _CUPED_VARX, _CUPED_VARY)
_CUPED_RHO2_BP_SQL = _cuped_rho2_bp(
    _CUPED_THETA_NUM_SQL, _CUPED_VARX_SQL, _CUPED_VARY_SQL
)
_CUPED_ADJ_MICRO = _cuped_adj_micro(_CUPED_THETA_NUM, _CUPED_VARX, d53)
_CUPED_ADJ_MICRO_SQL = _cuped_adj_micro(
    _CUPED_THETA_NUM_SQL, _CUPED_VARX_SQL, sql_d53
)


@query(
    "ab_cuped_variance_reduction",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey AS ck,
               CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN
                   CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN year(o_orderdate) = 1997 THEN
                   CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY o_custkey
    ), units AS (
        SELECT c_custkey,
               CASE WHEN {_SQL_HASH.format(salt='ab:', key='c_custkey')}
                         < '{{AB_T}}' THEN 'A' ELSE 'B' END AS arm,
               coalesce(r.x, 0) AS x, coalesce(r.y, 0) AS y
        FROM customer LEFT JOIN rev r ON r.ck = c_custkey
    ), m AS (
        SELECT count(*) AS n,
               sum(CAST(x AS DECIMAL(38,0))) AS sx,
               sum(CAST(y AS DECIMAL(38,0))) AS sy,
               sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
               sum(CAST(y AS DECIMAL(38,0)) * y) AS syy,
               sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               count(*) FILTER (arm = 'A') AS na,
               count(*) FILTER (arm = 'B') AS nb,
               sum(CAST(x AS DECIMAL(38,0))) FILTER (arm = 'A') AS sxa,
               sum(CAST(x AS DECIMAL(38,0))) FILTER (arm = 'B') AS sxb,
               sum(CAST(y AS DECIMAL(38,0))) FILTER (arm = 'A') AS sya,
               sum(CAST(y AS DECIMAL(38,0))) FILTER (arm = 'B') AS syb
        FROM units
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST((2 * (CAST(sya AS HUGEINT) * nb - CAST(syb AS HUGEINT) * na)
                 * 1000000 + CAST(na AS HUGEINT) * nb)
                // (2 * CAST(na AS HUGEINT) * nb) AS BIGINT)
               AS raw_diff_micro,
           {_CUPED_THETA_E6_SQL} AS theta_e6,
           {_CUPED_RHO2_BP_SQL} AS var_reduction_bp,
           {_CUPED_ADJ_MICRO_SQL} AS adj_diff_micro
    FROM m
    """.replace("{AB_T}", "80000000"),
)
def ab_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data, Deng et
    al. WSDM 2013) — the industry-standard A/B variance-reduction
    technique: regress the experiment metric (1997 revenue) on its
    pre-period covariate (1996 revenue), report theta, the achievable
    variance reduction rho² in basis points, and the CUPED-adjusted
    treatment effect next to the raw one. Completes the experimentation
    family (deterministic assignment, Wilson, diff-in-diff, SPRT,
    power/MDE, TOST) with the technique every large platform runs to
    cut experiment runtimes ~in half.

    Units are ALL customers (zero-filled revenue — dropping inactives
    is the classic CUPED bias); arms come from the family's salted md5
    threshold, so assignment is deterministic and engine-identical.
    Sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy, per-arm legs) are
    exact integer cents summed as DECIMAL(38,0); theta/rho²/adjusted
    diff are shared-verbatim IEEE trees over the safe scale-0
    decimal→double conversions with floor quantizers (the ANOVA/Welch
    device); the raw mean difference is an exact cross-multiplied
    half-up integral quotient.

    100 TB: one shuffle to the customer grain, one 12-term partial
    aggregate to a single row — CUPED's whole cost is the moment
    computation, which map-side combines; nothing here depends on unit
    count beyond the two hash aggregates.
    """
    cents = exact_cents(F.col("o_totalprice"))
    rev = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.when(F.year("o_orderdate") == 1996, cents).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.year("o_orderdate") == 1997, cents).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    units = cust.join(rev, cust.c_custkey == rev.ck, "left").select(
        F.when(
            hash_key("ab:", F.col("c_custkey")) < "80000000", "A"
        ).otherwise("B").alias("arm"),
        F.coalesce("x", F.lit(0)).alias("x"),
        F.coalesce("y", F.lit(0)).alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    m = units.agg(
        F.count("*").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.count_if(F.col("arm") == "A").alias("na"),
        F.count_if(F.col("arm") == "B").alias("nb"),
        F.sum(F.when(F.col("arm") == "A", dx)).alias("sxa"),
        F.sum(F.when(F.col("arm") == "B", dx)).alias("sxb"),
        F.sum(F.when(F.col("arm") == "A", dy)).alias("sya"),
        F.sum(F.when(F.col("arm") == "B", dy)).alias("syb"),
    )
    return m.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((2 * (sya * nb - syb * na) * 1000000 + na * nb)"
            " DIV nullif(2 * na * nb, 0) AS BIGINT)"
        ).alias("raw_diff_micro"),
        F.expr(_CUPED_THETA_E6).alias("theta_e6"),
        F.expr(_CUPED_RHO2_BP).alias("var_reduction_bp"),
        F.expr(_CUPED_ADJ_MICRO).alias("adj_diff_micro"),
    )


RBO_K = 20  # evaluation depth; p = 1/2 keeps every weight dyadic


@query(
    "eval_rank_biased_overlap",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS pk, year(o_orderdate) AS y,
               CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)
                        * (100 - CAST(CAST(l_discount AS DECIMAL(5,2)) * 100
                                      AS BIGINT))) AS BIGINT) AS r4
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2
    ), ra AS (
        SELECT pk, row_number() OVER (ORDER BY r4 DESC, pk) AS rk
        FROM rev WHERE y = 1996
    ), rb AS (
        SELECT pk, row_number() OVER (ORDER BY r4 DESC, pk) AS rk
        FROM rev WHERE y = 1997
    ), entry AS (
        SELECT greatest(ra.rk, rb.rk) AS d0
        FROM ra JOIN rb ON ra.pk = rb.pk
        WHERE ra.rk <= {RBO_K} AND rb.rk <= {RBO_K}
    ), cnt AS (
        SELECT d0, CAST(count(*) AS BIGINT) AS c FROM entry GROUP BY 1
    ), grid AS (
        SELECT g.d, CAST(coalesce(sum(c.c), 0) AS BIGINT) AS o_d
        FROM (SELECT unnest(range(1, {RBO_K} + 1)) AS d) g
        LEFT JOIN cnt c ON c.d0 <= g.d
        GROUP BY g.d
    ), terms AS (
        SELECT d, o_d,
               CAST((2 * o_d * 10000 + d) // (2 * d) AS BIGINT)
                   AS agreement_bp,
               CAST((2 * o_d * 1000000000000 + d * (1 << (d - 1)))
                    // (2 * d * (1 << (d - 1))) AS BIGINT) AS term_e12
        FROM grid
    )
    SELECT d, o_d, agreement_bp,
           CAST((2 * sum(term_e12) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 + 2) // 4 AS BIGINT) AS rbo_cum_e12
    FROM terms
    """,
)
def eval_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel TOIS 2010) between
    two top-20 part rankings — 1996 revenue rank vs 1997 revenue rank:
    the top-weighted similarity between indefinite rankings that
    Kendall/Spearman (whole-list, uniform weight) can't express, and
    the standard way to compare search result lists, feature rankings,
    or leaderboards across time. Output is the full depth profile:
    overlap o_d and agreement o_d/d at every depth d, plus the running
    RBO itself; the d=20 row's rbo_cum_e12 is the headline number.

    Exactness: persistence p = 1/2 makes every weight (1-p)·p^(d-1)
    dyadic (the EWMA device), so each term o_d/(d·2^(d-1)) is a half-up
    e12 integral quotient of exact integers, the cumulative sum is an
    integer RANGE window, and the final (1-p) factor is one more
    half-up halving. Part revenues are exact 1e-4-cent integers
    (price cents x integer discount complement), ranks fully
    tie-broken. No floats anywhere.

    100 TB: revenue ranking is the TakeOrdered shape (top-20 per year,
    never a global sort of the part dimension at the output); entry
    depths live on a <=20-row frame, the depth grid is a 20-row
    literal. The one real shuffle is the part-grain revenue aggregate.
    """
    rev4 = (
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(25,2)) * 100 AS BIGINT)"
            " * (100 - CAST(CAST(l_discount AS DECIMAL(5,2)) * 100 AS BIGINT))"
        )
    )
    rev = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", rev4.alias("r4"))
        .join(
            load(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate").isin(1996, 1997))
            .select("o_orderkey", F.year("o_orderdate").alias("y")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_partkey").alias("pk"), "y")
        .agg(F.sum("r4").cast("long").alias("r4"))
    )
    wrk = Window.partitionBy("y").orderBy(F.desc("r4"), "pk")
    ranked = rev.withColumn("rk", F.row_number().over(wrk)).filter(
        F.col("rk") <= RBO_K
    )
    ra = ranked.filter(F.col("y") == 1996).select(
        F.col("pk").alias("pka"), F.col("rk").alias("rka")
    )
    rb = ranked.filter(F.col("y") == 1997).select(
        F.col("pk").alias("pkb"), F.col("rk").alias("rkb")
    )
    entry = ra.join(rb, F.col("pka") == F.col("pkb")).select(
        F.greatest("rka", "rkb").alias("d0")
    )
    grid = spark.range(1, RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    o = (
        grid.join(F.broadcast(entry), F.col("d0") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("d0").cast("long").alias("o_d"))
    )
    terms = o.select(
        "d",
        "o_d",
        F.expr("CAST((2 * o_d * 10000 + d) DIV (2 * d) AS BIGINT)").alias(
            "agreement_bp"
        ),
        F.expr(
            "CAST((2 * o_d * 1000000000000 + d * shiftleft(1, d - 1))"
            " DIV (2 * d * shiftleft(1, d - 1)) AS BIGINT)"
        ).alias("term_e12"),
    )
    return terms.select(
        "d",
        "o_d",
        "agreement_bp",
        F.expr(
            f"CAST((2 * sum(term_e12) OVER (ORDER BY d"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" + 2) DIV 4 AS BIGINT)"
        ).alias("rbo_cum_e12"),
    )


SHESD_ROUNDS = 5  # max anomalies tested (ESD's k); threshold 3.5 x MAD


def _shesd_round_sql(r: int) -> str:
    """One generated ESD round: rank-picked median and MAD of the
    remaining residuals (exact integer ELEMENTS, never interpolation),
    the argmax |deviation| row, its 3.5xMAD verdict via cross-
    multiplication (2|dev| >= 7 MAD), then the shrunken remainder."""
    p = f"rem{r - 1}"
    return f""",
    med{r} AS (
        SELECT resid AS med FROM (
            SELECT resid, row_number() OVER (ORDER BY resid, mi) AS rn,
                   count(*) OVER () AS n
            FROM {p}
        ) WHERE rn = (n + 1) // 2
    ),
    mad{r} AS (
        SELECT adev AS mad FROM (
            SELECT abs(resid - m.med) AS adev,
                   row_number() OVER (ORDER BY abs(resid - m.med),
                                      {p}.mi) AS rn,
                   count(*) OVER () AS n
            FROM {p}, med{r} m
        ) WHERE rn = (n + 1) // 2
    ),
    pick{r} AS (
        SELECT {p}.mi, {p}.resid,
               abs({p}.resid - m.med) AS dev, m.med, d.mad
        FROM {p}, med{r} m, mad{r} d
        ORDER BY abs({p}.resid - m.med) DESC, {p}.mi
        LIMIT 1
    ),
    r{r} AS (
        SELECT {r} AS round, mi AS month_removed,
               CAST(dev AS BIGINT) AS dev_cents,
               CAST(med AS BIGINT) AS median_cents,
               CAST(mad AS BIGINT) AS mad_cents,
               CAST(CASE WHEN 2 * dev >= 7 * mad THEN 1 ELSE 0 END
                    AS INTEGER) AS exceeds
        FROM pick{r}
    ),
    rem{r} AS MATERIALIZED (
        SELECT {p}.mi, {p}.resid FROM {p}
        WHERE {p}.mi <> (SELECT mi FROM pick{r})
    )"""


def _shesd_oracle() -> str:
    rounds = "".join(_shesd_round_sql(r) for r in range(1, SHESD_ROUNDS + 1))
    union = " UNION ALL ".join(
        f"SELECT * FROM r{r}" for r in range(1, SHESD_ROUNDS + 1)
    )
    return f"""
    WITH months AS (
        SELECT unnest(generate_series(0, 35)) AS mi
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) - 1 AS mi,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS cents
        FROM orders
        WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.mi, coalesce(r.cents, 0) AS cents, m.mi % 12 AS moy
        FROM months m LEFT JOIN rev r ON r.mi = m.mi
    ), seasonal AS (
        SELECT moy, cents AS smed FROM (
            SELECT moy, cents,
                   row_number() OVER (PARTITION BY moy
                                      ORDER BY cents, mi) AS rn
            FROM series
        ) WHERE rn = 2
    ), rem0 AS MATERIALIZED (
        SELECT s.mi, s.cents - x.smed AS resid
        FROM series s JOIN seasonal x ON x.moy = s.moy
    ){rounds}
    {union}
    """


@query("anomaly_seasonal_hybrid_esd", oracle=_shesd_oracle())
def anomaly_seasonal_hybrid_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Hybrid ESD anomaly detection (Twitter's S-H-ESD,
    Hochenbaum et al. 2017) over the 1996-1998 monthly revenue series:
    subtract the per-calendar-month MEDIAN seasonal component
    (rank-picked middle of the 3 yearly values — the 'hybrid' robust
    replacement for STL's mean-based seasonal), then run up to
    {SHESD_ROUNDS} generalized-ESD rounds on the residuals — each
    round re-derives the remaining set's median and MAD (both exact
    rank-picked ELEMENTS), removes the largest |deviation| month, and
    reports whether it crossed the robust 3.5xMAD fence (integer
    cross-multiplication: 2|dev| >= 7·MAD). ESD's re-estimation after
    every removal is the part plain outlier fences miss (masking:
    one huge anomaly inflates MAD and hides the second); the round
    trace makes the masking-resistant decision auditable.

    Exact end-to-end: cents are integers, every median/MAD is a
    picked element under a fully tie-broken order, the verdict is an
    integer inequality — no floats anywhere (contrast
    anomaly_seasonal_adjusted's z-score fence; this is its robust,
    iterative sibling).

    100 TB: the series is calendar-bounded (36 rows after one
    month-grain rollup); each round is a rank + argmax on the
    shrinking remainder with a localCheckpoint to keep lineage linear
    — the same bounded-rounds contract as k-center/kmeans/HITS.
    """
    cents = exact_cents(F.col("o_totalprice"))
    rev = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .filter(F.year("o_orderdate").between(1996, 1998))
        .groupBy(
            ((F.year("o_orderdate") - 1996) * 12 + F.month("o_orderdate") - 1)
            .cast("long")
            .alias("mi")
        )
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    months = spark.range(0, 36).select(F.col("id").cast("long").alias("mi"))
    series = (
        months.join(rev, "mi", "left")
        .select(
            "mi",
            F.coalesce("cents", F.lit(0)).alias("cents"),
            (F.col("mi") % 12).alias("moy"),
        )
    )
    wmoy = Window.partitionBy("moy").orderBy("cents", "mi")
    seasonal = (
        series.withColumn("rn", F.row_number().over(wmoy))
        .filter(F.col("rn") == 2)
        .select(F.col("moy").alias("smoy"), F.col("cents").alias("smed"))
    )
    rem = (
        series.join(F.broadcast(seasonal), series.moy == F.col("smoy"))
        .select("mi", (F.col("cents") - F.col("smed")).alias("resid"))
        # ckpt-grain: bounded — month-grain residual series
        .localCheckpoint(eager=False)
    )
    out_rounds = []
    for r in range(1, SHESD_ROUNDS + 1):
        wmed = Window.orderBy("resid", "mi")
        med = (
            rem.withColumn("rn", F.row_number().over(wmed))
            .withColumn("n", F.count("*").over(Window.partitionBy()))
            .filter(F.expr("rn = (n + 1) DIV 2"))
            .select(F.col("resid").alias("med"))
        )
        with_med = rem.crossJoin(F.broadcast(med))
        wmad = Window.orderBy(F.abs(F.col("resid") - F.col("med")), "mi")
        mad = (
            with_med.withColumn("rn", F.row_number().over(wmad))
            .withColumn("n", F.count("*").over(Window.partitionBy()))
            .filter(F.expr("rn = (n + 1) DIV 2"))
            .select(F.abs(F.col("resid") - F.col("med")).alias("mad"))
        )
        pick = (
            with_med.crossJoin(F.broadcast(mad))
            .orderBy(F.abs(F.col("resid") - F.col("med")).desc(), "mi")
            .limit(1)
            # ckpt-grain: iterative-loop — ESD candidate pick, 1 row per round
            .localCheckpoint(eager=False)
        )
        out_rounds.append(
            pick.select(
                F.lit(r).alias("round"),
                F.col("mi").cast("bigint").alias("month_removed"),
                F.abs(F.col("resid") - F.col("med"))
                .cast("bigint")
                .alias("dev_cents"),
                F.col("med").cast("bigint").alias("median_cents"),
                F.col("mad").cast("bigint").alias("mad_cents"),
                F.expr(
                    "CAST(CASE WHEN 2 * abs(resid - med) >= 7 * mad"
                    " THEN 1 ELSE 0 END AS INT)"
                ).alias("exceeds"),
            )
        )
        removed = pick.select(F.col("mi").alias("rmi"))
        rem = (
            rem.join(F.broadcast(removed), rem.mi == F.col("rmi"), "left_anti")
            # ckpt-grain: iterative-loop — residual-set state; checkpoint truncates per-round lineage
            .localCheckpoint(eager=False)
        )
    out = out_rounds[0]
    for fr in out_rounds[1:]:
        out = out.unionAll(fr)
    return out


# --- Prophet-style piecewise-linear trend ---------------------------------
#
# Basis over t = 1..36 (three years of months): [1, t, (t-12)+, (t-24)+]
# — changepoints at the year boundaries. The Gram matrix G = X'X is
# DATA-INDEPENDENT, so det(G) and the integer adjugate are module-level
# Python literals, and each OLS coefficient is an EXACT RATIONAL
# adj(G)·b / det(G) of the four data sums b = X'y — no matrix solve,
# no floats, anywhere.
PW_T = list(range(1, 37))
PW_CP = (12, 24)
_PW_X = [[1, t, max(0, t - PW_CP[0]), max(0, t - PW_CP[1])] for t in PW_T]


def _pw_det(m) -> int:
    if len(m) == 1:
        return m[0][0]
    return sum(
        (-1) ** j * m[0][j] * _pw_det(
            [row[:j] + row[j + 1:] for row in m[1:]]
        )
        for j in range(len(m))
    )


_PW_G = [
    [sum(r[i] * r[j] for r in _PW_X) for j in range(4)] for i in range(4)
]
PW_DET_G = _pw_det(_PW_G)
# adjugate: ADJ[i][j] = cofactor C_ji, so beta_i = sum_j ADJ[i][j]*b_j / det
PW_ADJ = [
    [
        (-1) ** (i + j)
        * _pw_det(
            [
                [
                    _PW_G[r][c]
                    for c in range(4)
                    if c != i
                ]
                for r in range(4)
                if r != j
            ]
        )
        for j in range(4)
    ]
    for i in range(4)
]


def _pw_beta_num(i: int, big: str = "DECIMAL(38,0)") -> str:
    """Exact integer numerator of beta_i (x det(G)) from b0..b3.
    ``big`` is the wide-integer type: DECIMAL(38,0) Spark-side,
    HUGEINT oracle-side — DuckDB's ``//`` on DECIMAL operands routes
    through DOUBLE and rounds (the playbook ~1e18 trap), so every
    oracle product must stay HUGEINT."""
    return " + ".join(
        f"({PW_ADJ[i][j]}) * CAST(b{j} AS {big})" for j in range(4)
    )


def _dollars_1996_1998(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Months t = 1..36 of 1996-1998 left-joined to y, that month's
    revenue in whole dollars (exact cents DIV 100; NULL for a month
    with no order)."""
    rev = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").between(1996, 1998))
        .groupBy(
            ((F.year("o_orderdate") - 1996) * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t")
        )
        .agg(F.expr(
            "CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100"
            " AS BIGINT)) DIV 100 AS BIGINT)"
        ).alias("y"))
    )
    months = spark.range(1, 37).select(F.col("id").cast("long").alias("t"))
    return months.join(rev, "t", "left")


@query(
    "forecast_piecewise_trend_changepoints",
    oracle=f"""
    WITH months AS (
        SELECT unnest(generate_series(1, 36)) AS t
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) // 100 AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.t, coalesce(r.y, 0) AS y,
               greatest(0, m.t - {PW_CP[0]}) AS x2,
               greatest(0, m.t - {PW_CP[1]}) AS x3
        FROM months m LEFT JOIN rev r ON r.t = m.t
    ), sums AS (
        SELECT CAST(sum(y) AS BIGINT) AS b0,
               CAST(sum(t * y) AS BIGINT) AS b1,
               CAST(sum(x2 * y) AS BIGINT) AS b2,
               CAST(sum(x3 * y) AS BIGINT) AS b3,
               sum(CAST(y AS HUGEINT) * y) AS yy
        FROM series
    ), nums AS (
        SELECT b0, b1, b2, b3, yy,
               {_pw_beta_num(0, 'HUGEINT')} AS n0,
               {_pw_beta_num(1, 'HUGEINT')} AS n1,
               {_pw_beta_num(2, 'HUGEINT')} AS n2,
               {_pw_beta_num(3, 'HUGEINT')} AS n3
        FROM sums
    )
    SELECT
        CAST((2 * 100 * CAST(n0 AS HUGEINT) + {PW_DET_G})
             // (2 * CAST({PW_DET_G} AS HUGEINT)) AS BIGINT) AS beta0_centi,
        CAST((2 * 100 * CAST(n1 AS HUGEINT) + {PW_DET_G})
             // (2 * CAST({PW_DET_G} AS HUGEINT)) AS BIGINT) AS slope_y1_centi,
        CAST((2 * 100 * (CAST(n1 AS HUGEINT) + CAST(n2 AS HUGEINT))
              + {PW_DET_G})
             // (2 * CAST({PW_DET_G} AS HUGEINT)) AS BIGINT) AS slope_y2_centi,
        CAST((2 * 100 * (CAST(n1 AS HUGEINT) + CAST(n2 AS HUGEINT)
                         + CAST(n3 AS HUGEINT)) + {PW_DET_G})
             // (2 * CAST({PW_DET_G} AS HUGEINT)) AS BIGINT) AS slope_y3_centi,
        CAST((2 * 10000 * (36 * (CAST(b0 AS HUGEINT) * n0
                                 + CAST(b1 AS HUGEINT) * n1
                                 + CAST(b2 AS HUGEINT) * n2
                                 + CAST(b3 AS HUGEINT) * n3)
                           - CAST(b0 AS HUGEINT) * b0 * {PW_DET_G})
              + (36 * CAST(yy AS HUGEINT) * {PW_DET_G}
                 - CAST(b0 AS HUGEINT) * b0 * {PW_DET_G}))
             // (2 * (36 * CAST(yy AS HUGEINT) * {PW_DET_G}
                      - CAST(b0 AS HUGEINT) * b0 * {PW_DET_G}))
             AS BIGINT) AS r2_bp
    FROM nums
    """,
)
def forecast_piecewise_trend_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prophet-style piecewise-linear trend (Taylor & Letham 2018) on
    the 1996-1998 monthly revenue: OLS over the changepoint basis
    [1, t, (t-12)+, (t-24)+] reports the intercept, the trend slope in
    EACH regime year (cumulative changepoint deltas), and the fit's
    R² — the 'did growth bend at the year boundaries' question Prophet
    answers with this exact basis.

    The device that makes an OLS solve hash-exact: the Gram matrix
    X'X is DATA-INDEPENDENT (the basis is a calendar), so det(G) and
    the integer adjugate are precomputed Python integer literals baked
    into both engines' SQL — each coefficient becomes the exact
    rational (adj(G)·b)_i / det(G) of the four data sums b = X'y, and
    R² an exact cross-multiplied rational of those sums (revenue
    quantized to whole dollars by DIV to keep every product inside
    DECIMAL(38)/HUGEINT). No matrix solve, no float anywhere — the
    all-integer answer to the same problem the Granger family handles
    with shared IEEE determinant trees when the Gram IS data.

    100 TB: one month-grain rollup; the regression itself is four
    scalar sums and literal arithmetic — the canonical 'normal
    equations beat row-wise solvers at cluster scale' shape.
    """
    series = _dollars_1996_1998(spark, sf_dir).select(
        "t",
        F.coalesce("y", F.lit(0)).alias("y"),
        F.greatest(F.lit(0), F.col("t") - PW_CP[0]).alias("x2"),
        F.greatest(F.lit(0), F.col("t") - PW_CP[1]).alias("x3"),
    )
    sums = series.agg(
        F.sum("y").cast("long").alias("b0"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("b1"),
        F.sum(F.col("x2") * F.col("y")).cast("long").alias("b2"),
        F.sum(F.col("x3") * F.col("y")).cast("long").alias("b3"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("yy"),
    )
    nums = sums.select(
        "b0", "b1", "b2", "b3", "yy",
        *[F.expr(f"{_pw_beta_num(i)}").alias(f"n{i}") for i in range(4)],
    )
    d = PW_DET_G

    def centi(num: str) -> str:
        return (
            f"CAST((2 * 100 * CAST({num} AS DECIMAL(38,0)) + {d})"
            f" DIV (2 * CAST({d} AS DECIMAL(38,0))) AS BIGINT)"
        )

    bn = (
        "(36 * (CAST(b0 AS DECIMAL(38,0)) * n0 + CAST(b1 AS DECIMAL(38,0)) * n1"
        " + CAST(b2 AS DECIMAL(38,0)) * n2 + CAST(b3 AS DECIMAL(38,0)) * n3)"
        f" - CAST(b0 AS DECIMAL(38,0)) * b0 * {d})"
    )
    tss = (
        f"(36 * CAST(yy AS DECIMAL(38,0)) * {d}"
        f" - CAST(b0 AS DECIMAL(38,0)) * b0 * {d})"
    )
    return nums.select(
        F.expr(centi("n0")).alias("beta0_centi"),
        F.expr(centi("n1")).alias("slope_y1_centi"),
        F.expr(centi("(n1 + n2)")).alias("slope_y2_centi"),
        F.expr(centi("(n1 + n2 + n3)")).alias("slope_y3_centi"),
        F.expr(
            f"CAST((2 * 10000 * {bn} + {tss}) DIV nullif(2 * {tss}, 0)"
            " AS BIGINT)"
        ).alias("r2_bp"),
    )


# Pre-period (t=1..24) linear-fit Gram literals for the counterfactual:
# G = [[24, sum t], [sum t, sum t^2]], beta = adj(G)·b / det(G).
CI_PRE_N = 24
_CI_ST = sum(range(1, CI_PRE_N + 1))
_CI_STT = sum(t * t for t in range(1, CI_PRE_N + 1))
CI_DET = CI_PRE_N * _CI_STT - _CI_ST * _CI_ST
# n_a = stt*b0 - st*b1 ; n_b = 24*b1 - st*b0  (adjugate rows)


@query(
    "forecast_causal_impact_counterfactual",
    oracle=f"""
    WITH months AS (
        SELECT unnest(generate_series(1, 36)) AS t
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) // 100 AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.t, coalesce(r.y, 0) AS y
        FROM months m LEFT JOIN rev r ON r.t = m.t
    ), pre AS (
        SELECT CAST(sum(y) AS HUGEINT) AS b0,
               CAST(sum(t * y) AS HUGEINT) AS b1
        FROM series WHERE t <= {CI_PRE_N}
    ), post AS (
        SELECT s.t, s.y,
               {_CI_STT} * p.b0 - {_CI_ST} * p.b1 AS na,
               {CI_PRE_N} * p.b1 - {_CI_ST} * p.b0 AS nb
        FROM series s CROSS JOIN pre p WHERE s.t > {CI_PRE_N}
    ), gaps AS (
        SELECT t, y,
               CAST((2 * 100 * (na + nb * t) + {CI_DET})
                    // (2 * CAST({CI_DET} AS HUGEINT)) AS BIGINT)
                   AS counterfactual_centi,
               CAST(y AS HUGEINT) * {CI_DET} - na - nb * t AS gap_num,
               na + nb * t AS cf_num
        FROM post
    )
    SELECT t AS month_idx, CAST(y AS BIGINT) AS actual_dollars,
           counterfactual_centi,
           CAST((2 * 100 * gap_num + {CI_DET})
                // (2 * CAST({CI_DET} AS HUGEINT)) AS BIGINT) AS gap_centi,
           CAST((2 * 100 * sum(gap_num) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 + {CI_DET})
                // (2 * CAST({CI_DET} AS HUGEINT)) AS BIGINT)
               AS cum_gap_centi,
           CAST((2 * 10000 * gap_num + cf_num)
                // (2 * cf_num) AS BIGINT) AS rel_gap_bp
    FROM gaps
    """,
)
def forecast_causal_impact_counterfactual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CausalImpact-style intervention analysis (Brodersen et al.
    2015, linear-trend counterfactual): fit the pre-period trend
    (months 1-24) by OLS, extrapolate it as the no-intervention
    counterfactual over the post period (months 25-36), and report the
    monthly gap, the running cumulative effect, and the relative lift
    — the 'what did the change actually buy us' readout every launch
    review wants, computed without a control group.

    Same literal-adjugate device as the piecewise-trend query: the
    pre-period Gram matrix is a calendar constant, so the counter-
    factual at month t is the exact rational (na + nb·t)/det with
    integer numerators from two data sums — gap, cumulative gap, and
    relative lift are all exact cross-multiplied integers (HUGEINT
    oracle-side; DuckDB's DECIMAL ``//`` double-rounds). The
    cumulative column sums NUMERATORS in an integer window and rounds
    once — no rounded-value accumulation.

    100 TB: one month rollup, one 2-term pre-period aggregate
    broadcast onto 12 post rows. The honest caveat is statistical,
    not computational: a linear counterfactual prices trend, not
    seasonality — the Holt-Winters/piecewise siblings supply those.
    """
    series = _dollars_1996_1998(spark, sf_dir).select(
        "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    pre = series.filter(F.col("t") <= CI_PRE_N).agg(
        F.sum("y").cast("decimal(38,0)").alias("b0"),
        F.sum(F.col("t") * F.col("y")).cast("decimal(38,0)").alias("b1"),
    )
    post = (
        series.filter(F.col("t") > CI_PRE_N)
        .crossJoin(F.broadcast(pre))
        .select(
            "t",
            "y",
            F.expr(f"{_CI_STT} * b0 - {_CI_ST} * b1").alias("na"),
            F.expr(f"{CI_PRE_N} * b1 - {_CI_ST} * b0").alias("nb"),
        )
    )
    gaps = post.select(
        "t",
        "y",
        F.expr(
            f"CAST((2 * 100 * (na + nb * t) + {CI_DET})"
            f" DIV (2 * CAST({CI_DET} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("counterfactual_centi"),
        F.expr(
            f"CAST(y AS DECIMAL(38,0)) * {CI_DET} - na - nb * t"
        ).alias("gap_num"),
        F.expr("na + nb * t").alias("cf_num"),
    )
    return gaps.select(
        F.col("t").alias("month_idx"),
        F.col("y").cast("bigint").alias("actual_dollars"),
        "counterfactual_centi",
        F.expr(
            f"CAST((2 * 100 * gap_num + {CI_DET})"
            f" DIV (2 * CAST({CI_DET} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("gap_centi"),
        F.expr(
            f"CAST((2 * 100 * sum(gap_num) OVER (ORDER BY t"
            f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            f" + {CI_DET}) DIV (2 * CAST({CI_DET} AS DECIMAL(38,0)))"
            f" AS BIGINT)"
        ).alias("cum_gap_centi"),
        F.expr(
            "CAST((2 * 10000 * gap_num + cf_num)"
            " DIV nullif(2 * cf_num, 0) AS BIGINT)"
        ).alias("rel_gap_bp"),
    )


@query(
    "forecast_pinball_loss_quantile",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), series AS (
        SELECT row_number() OVER (ORDER BY mon) AS idx, v FROM monthly
    ), lagged AS (
        SELECT idx, v,
               lag(v, 1) OVER (ORDER BY idx) AS v1,
               lag(v, 12) OVER (ORDER BY idx) AS v12,
               lag(v, 1) OVER (ORDER BY idx)
                 + lag(v, 2) OVER (ORDER BY idx)
                 + lag(v, 3) OVER (ORDER BY idx) AS s3
        FROM series
    ), scored AS (
        SELECT v, v1, v12, s3 FROM lagged WHERE v12 IS NOT NULL
    ), sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(abs(v - v1)) AS HUGEINT) AS naive50,
               CAST(sum(greatest(3 * (v - v1), -(v - v1))) AS HUGEINT)
                   AS naive75,
               CAST(sum(abs(v - v12)) AS HUGEINT) AS seas50,
               CAST(sum(greatest(3 * (v - v12), -(v - v12))) AS HUGEINT)
                   AS seas75,
               CAST(sum(abs(3 * v - s3)) AS HUGEINT) AS ma50,
               CAST(sum(greatest(3 * (3 * v - s3), -(3 * v - s3)))
                    AS HUGEINT) AS ma75
        FROM scored
    )
    SELECT 'naive_last' AS forecaster, n,
           CAST((2 * 100 * naive50 + 2) // 4 AS BIGINT)
               AS pinball_q50_centi,
           CAST((2 * 100 * naive75 + 4) // 8 AS BIGINT)
               AS pinball_q75_centi
    FROM sums
    UNION ALL
    SELECT 'seasonal_naive', n,
           CAST((2 * 100 * seas50 + 2) // 4 AS BIGINT),
           CAST((2 * 100 * seas75 + 4) // 8 AS BIGINT)
    FROM sums
    UNION ALL
    SELECT 'moving_avg_3', n,
           CAST((2 * 100 * ma50 + 6) // 12 AS BIGINT),
           CAST((2 * 100 * ma75 + 12) // 24 AS BIGINT)
    FROM sums
    """,
)
def forecast_pinball_loss_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss scoreboard for the three registered
    baseline forecasters (last-value naive, seasonal-naive, MA3 — the
    theil_u2 candidates) at q=1/2 and q=3/4 — the metric quantile
    forecasts are actually graded by (M5 Uncertainty, every prob-
    forecasting benchmark): L_q = q(y-f)+ + (1-q)(f-y)+, asymmetric so
    over- and under-forecasting price differently.

    DYADIC quantiles make it exact: 4·L_{{3/4}} = max(3(y-f), f-y) and
    2·L_{{1/2}} = |y-f| are pure integers per month (MA3 carries the
    x3 scale), summed exactly, divided once by the combined dyadic
    scale with the half-up device. One month-grain rollup, one lag
    window on the calendar-bounded series, three 1-row output legs.
    """
    cents = exact_cents(F.col("o_totalprice"))
    monthly = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", "o_orderdate").alias("mon"))
        .agg(F.sum(cents).cast("long").alias("v"))
    )
    w = Window.orderBy("mon")
    lagged = monthly.select(
        "v",
        F.lag("v", 1).over(w).alias("v1"),
        F.lag("v", 12).over(w).alias("v12"),
        (
            F.lag("v", 1).over(w) + F.lag("v", 2).over(w) + F.lag("v", 3).over(w)
        ).alias("s3"),
    ).filter(F.col("v12").isNotNull())
    sums = lagged.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.abs(F.col("v") - F.col("v1"))).cast("decimal(38,0)").alias("naive50"),
        F.sum(
            F.greatest(3 * (F.col("v") - F.col("v1")), -(F.col("v") - F.col("v1")))
        ).cast("decimal(38,0)").alias("naive75"),
        F.sum(F.abs(F.col("v") - F.col("v12"))).cast("decimal(38,0)").alias("seas50"),
        F.sum(
            F.greatest(3 * (F.col("v") - F.col("v12")), -(F.col("v") - F.col("v12")))
        ).cast("decimal(38,0)").alias("seas75"),
        F.sum(F.abs(3 * F.col("v") - F.col("s3"))).cast("decimal(38,0)").alias("ma50"),
        F.sum(
            F.greatest(3 * (3 * F.col("v") - F.col("s3")), -(3 * F.col("v") - F.col("s3")))
        ).cast("decimal(38,0)").alias("ma75"),
    # ckpt-grain: bounded — aggregated seasonal-strength sums (one row per series)
    ).localCheckpoint(eager=False)

    def leg(name: str, c50: str, c75: str, d50: int, d75: int) -> DataFrame:
        return sums.select(
            F.lit(name).alias("forecaster"),
            "n",
            F.expr(
                f"CAST((2 * 100 * {c50} + {d50}) DIV {2 * d50} AS BIGINT)"
            ).alias("pinball_q50_centi"),
            F.expr(
                f"CAST((2 * 100 * {c75} + {d75}) DIV {2 * d75} AS BIGINT)"
            ).alias("pinball_q75_centi"),
        )

    return (
        leg("naive_last", "naive50", "naive75", 2, 4)
        .unionAll(leg("seasonal_naive", "seas50", "seas75", 2, 4))
        .unionAll(leg("moving_avg_3", "ma50", "ma75", 6, 12))
    )


def _brier_oracle() -> str:
    """Murphy/Stephenson decomposition composed from the registered
    calibration-bin grain (score cents, confidence = s/max): Brier and
    uncertainty are single exact rationals; reliability, resolution,
    within-bin variance, and the within-bin covariance cross-term are
    sums of per-bin rationals with incommensurate denominators — each
    bin term rounds half-up at e8 and decimal-sums (the playbook
    incommensurate-rational device), so the graded numbers are a
    deterministic contract in both engines."""
    return f"""
    WITH s AS (
        SELECT CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS sc,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL AND isfinite(value)
    ), g AS (
        SELECT CAST(count(*) AS HUGEINT) AS nn,
               CAST(sum(y) AS HUGEINT) AS sy,
               CAST(max(sc) AS HUGEINT) AS mx
        FROM s
    ), b AS (
        SELECT sc // {CALIB_BIN_CENTS} AS bin,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(y) AS HUGEINT) AS by_,
               CAST(sum(sc) AS HUGEINT) AS bs,
               CAST(sum(CAST(sc AS HUGEINT) * sc) AS HUGEINT) AS bss,
               CAST(sum(sc * y) AS HUGEINT) AS bsy
        FROM s GROUP BY 1
    ), terms AS (
        SELECT n, by_, bs, bss, bsy, g.nn, g.sy, g.mx,
               (2 * (bs - by_ * g.mx) * (bs - by_ * g.mx) * 100000000
                + n * g.mx * g.mx) // (2 * n * g.mx * g.mx) AS rel_e8,
               (2 * (by_ * g.nn - g.sy * n) * (by_ * g.nn - g.sy * n)
                * 100000000 + n * g.nn * g.nn)
                   // (2 * n * g.nn * g.nn) AS res_e8,
               (2 * (n * bss - bs * bs) * 100000000 + n * g.mx * g.mx)
                   // (2 * n * g.mx * g.mx) AS wbv_e8,
               (2 * (n * bsy - bs * by_) * 100000000 + n * g.mx)
                   // (2 * n * g.mx) AS wbc_e8
        FROM b CROSS JOIN g
    )
    SELECT CAST(max(nn) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST((2 * sum(bss - 2 * mx * bsy + mx * mx * by_) * 10000
                 + max(nn) * max(mx) * max(mx))
                // (2 * max(nn) * max(mx) * max(mx)) AS BIGINT) AS brier_bp,
           CAST((2 * max(sy) * (max(nn) - max(sy)) * 10000 + max(nn) * max(nn))
                // (2 * max(nn) * max(nn)) AS BIGINT) AS unc_bp,
           CAST((2 * sum(rel_e8) + max(nn) * 10000)
                // (2 * max(nn) * 10000) AS BIGINT) AS rel_bp,
           CAST((2 * sum(res_e8) + max(nn) * 10000)
                // (2 * max(nn) * 10000) AS BIGINT) AS res_bp,
           CAST((2 * sum(wbv_e8) + max(nn) * 10000)
                // (2 * max(nn) * 10000) AS BIGINT) AS wbv_bp,
           CAST((2 * 2 * sum(wbc_e8) + max(nn) * 10000)
                // (2 * max(nn) * 10000) AS BIGINT) AS wbc2_bp
    FROM terms
    """


@query("eval_brier_murphy_decomposition", oracle=_brier_oracle())
def eval_brier_murphy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the full Murphy/Stephenson decomposition on the
    calibration-bin grain (confidence = score/max, the ECE query's
    normalization): BS = UNC + REL − RES + WBV − 2·WBC, where the two
    extra terms (within-bin forecast variance and within-bin
    forecast-outcome covariance) are what the textbook three-term
    Murphy identity silently drops when forecasts inside a bin are not
    constant — reported here so the identity holds EXACTLY (pinned in
    the test against Fraction arithmetic), turning 'the model is
    miscalibrated' (REL) vs 'the model cannot discriminate' (low RES)
    into separately graded facts.

    Exactness: Brier's numerator collapses per bin to Σs² − 2·mx·Σsy
    + mx²·Σy (one exact rational over N·mx²), uncertainty is
    SY(N−SY)/N²; the four bin-denominator terms use the playbook's
    incommensurate-rational device (each bin term half-up at e8,
    decimal-summed, one final half-up to bp — negative covariance
    terms truncate identically in both engines).

    100 TB: one hash aggregate to the bin grain carrying five integer
    sums; every component is arithmetic on that tiny frame — the
    decomposition costs nothing beyond the reliability table itself.
    """
    s = (
        load(spark, sf_dir, "events")
        .filter(is_finite(F.col("value")))
        .select(
            exact_cents(F.col("value")).alias("sc"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    g = s.agg(
        F.count("*").cast("decimal(38,0)").alias("nn"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.max("sc").cast("decimal(38,0)").alias("mx"),
    )
    b = s.groupBy(F.expr(f"sc DIV {CALIB_BIN_CENTS}").alias("bin")).agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("y").cast("decimal(38,0)").alias("by_"),
        F.sum("sc").cast("decimal(38,0)").alias("bs"),
        F.sum(F.col("sc").cast("decimal(38,0)") * F.col("sc")).alias("bss"),
        F.sum(F.col("sc") * F.col("y")).cast("decimal(38,0)").alias("bsy"),
    )
    terms = b.crossJoin(F.broadcast(g)).select(
        "n", "by_", "bs", "bss", "bsy", "nn", "sy", "mx",
        F.expr(
            "(2 * (bs - by_ * mx) * (bs - by_ * mx) * 100000000"
            " + n * mx * mx) DIV (2 * n * mx * mx)"
        ).alias("rel_e8"),
        F.expr(
            "(2 * (by_ * nn - sy * n) * (by_ * nn - sy * n) * 100000000"
            " + n * nn * nn) DIV (2 * n * nn * nn)"
        ).alias("res_e8"),
        F.expr(
            "(2 * (n * bss - bs * bs) * 100000000 + n * mx * mx)"
            " DIV (2 * n * mx * mx)"
        ).alias("wbv_e8"),
        F.expr(
            "(2 * (n * bsy - bs * by_) * 100000000 + n * mx)"
            " DIV (2 * n * mx)"
        ).alias("wbc_e8"),
    )
    return terms.agg(
        F.max("nn").cast("bigint").alias("n_events"),
        F.count("*").cast("bigint").alias("n_bins"),
        F.expr(
            "CAST((2 * sum(bss - 2 * mx * bsy + mx * mx * by_) * 10000"
            " + max(nn) * max(mx) * max(mx))"
            " DIV (2 * max(nn) * max(mx) * max(mx)) AS BIGINT)"
        ).alias("brier_bp"),
        F.expr(
            "CAST((2 * max(sy) * (max(nn) - max(sy)) * 10000"
            " + max(nn) * max(nn)) DIV (2 * max(nn) * max(nn)) AS BIGINT)"
        ).alias("unc_bp"),
        F.expr(
            "CAST((2 * sum(rel_e8) + max(nn) * 10000)"
            " DIV (2 * max(nn) * 10000) AS BIGINT)"
        ).alias("rel_bp"),
        F.expr(
            "CAST((2 * sum(res_e8) + max(nn) * 10000)"
            " DIV (2 * max(nn) * 10000) AS BIGINT)"
        ).alias("res_bp"),
        F.expr(
            "CAST((2 * sum(wbv_e8) + max(nn) * 10000)"
            " DIV (2 * max(nn) * 10000) AS BIGINT)"
        ).alias("wbv_bp"),
        F.expr(
            "CAST((2 * 2 * sum(wbc_e8) + max(nn) * 10000)"
            " DIV (2 * max(nn) * 10000) AS BIGINT)"
        ).alias("wbc2_bp"),
    )


PERM_REPS = 200  # derandomized permutation replicates


@query(
    "ab_permutation_test_hashed",
    oracle=f"""
    WITH units AS (
        SELECT c_custkey AS ck,
               CASE WHEN {_SQL_HASH.format(salt='ab:', key='c_custkey')}
                         < '80000000' THEN 1 ELSE 0 END AS arm_a,
               CAST(coalesce(r.y, 0) AS BIGINT) AS y
        FROM customer LEFT JOIN (
            SELECT o_custkey,
                   CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                                 AS BIGINT)) AS BIGINT) AS y
            FROM orders WHERE year(o_orderdate) = 1997
            GROUP BY o_custkey
        ) r ON r.o_custkey = c_custkey
    ), g AS (
        SELECT CAST(sum(arm_a) AS HUGEINT) AS na,
               CAST(count(*) - sum(arm_a) AS HUGEINT) AS nb,
               CAST(sum(arm_a * y) AS HUGEINT) AS sya,
               CAST(sum((1 - arm_a) * y) AS HUGEINT) AS syb
        FROM units
    ), reps AS (
        SELECT u.ck, u.y, r.rep,
               row_number() OVER (PARTITION BY r.rep ORDER BY
                   md5('perm:' || r.rep || ':' || CAST(u.ck AS STRING)),
                   u.ck) AS rk
        FROM units u CROSS JOIN (
            SELECT unnest(generate_series(1, {PERM_REPS})) AS rep) r
    ), rstat AS (
        SELECT rep,
               CAST(sum(CASE WHEN rk <= (SELECT na FROM g)
                             THEN y ELSE 0 END) AS HUGEINT) AS pya,
               CAST(sum(CASE WHEN rk > (SELECT na FROM g)
                             THEN y ELSE 0 END) AS HUGEINT) AS pyb
        FROM reps GROUP BY rep
    ), verdicts AS (
        SELECT rep,
               CASE WHEN abs(pya * g.nb - pyb * g.na)
                         >= abs(g.sya * g.nb - g.syb * g.na)
                    THEN 1 ELSE 0 END AS extreme
        FROM rstat CROSS JOIN g
    )
    SELECT CAST((SELECT na FROM g) AS BIGINT) AS n_a,
           CAST((SELECT nb FROM g) AS BIGINT) AS n_b,
           CAST({PERM_REPS} AS BIGINT) AS n_reps,
           CAST(sum(extreme) AS BIGINT) AS n_extreme,
           CAST((2 * 10000 * (sum(extreme) + 1) + ({PERM_REPS} + 1))
                // (2 * ({PERM_REPS} + 1)) AS BIGINT) AS p_value_bp
    FROM verdicts
    """,
)
def ab_permutation_test_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the A/B revenue difference, DERANDOMIZED:
    {PERM_REPS} label permutations come from md5-ranked shuffles
    (replicate r relabels the first n_A customers in
    md5('perm:r:ck') order as arm A), so the classic
    distribution-free significance test — the gold standard when
    normality is in doubt — is hash-exact and engine-identical, the
    same derandomization contract as the Poisson bootstrap CI. The
    statistic compares cross-multiplied mean differences
    (|Sy_A·n_B − Sy_B·n_A|, pure integers — no division), and the
    p-value uses the add-one permutation convention
    (extreme+1)/(reps+1).

    100 TB: the replicate fan-out is an explicit x{PERM_REPS} explode
    — the honest cost of permutation testing — kept tractable because
    each replicate needs only a rank and two integer sums (one shuffle
    on the replicate key, map-side partial sums). For budget-bound
    runs the same contract drops to fewer replicates; CUPED/Welch
    (parametric, single-pass) are the cheap siblings.
    """
    cents = exact_cents(F.col("o_totalprice"))
    rev = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1997)
        .groupBy(F.col("o_custkey").alias("rck"))
        .agg(F.sum(cents).cast("long").alias("ry"))
    )
    units = (
        load(spark, sf_dir, "customer")
        .select("c_custkey")
        .join(rev, F.col("c_custkey") == F.col("rck"), "left")
        .select(
            F.col("c_custkey").alias("ck"),
            F.when(hash_key("ab:", F.col("c_custkey")) < "80000000", 1)
            .otherwise(0)
            .alias("arm_a"),
            F.coalesce("ry", F.lit(0)).alias("y"),
        )
        # ckpt-grain: slim-exception — see comment: slim 3-int customer-grain rows, kept after the r11 audit
        .localCheckpoint(eager=False)  # slim 3-int rows; checkpoint kept (r11 rule exception)
    )
    g = units.agg(
        F.sum("arm_a").cast("decimal(38,0)").alias("na"),
        (F.count("*") - F.sum("arm_a")).cast("decimal(38,0)").alias("nb"),
        F.sum(F.col("arm_a") * F.col("y")).cast("decimal(38,0)").alias("sya"),
        F.sum((1 - F.col("arm_a")) * F.col("y"))
        .cast("decimal(38,0)")
        .alias("syb"),
    )
    reps_grid = spark.range(1, PERM_REPS + 1).select(
        F.col("id").cast("int").alias("rep")
    )
    wrep = Window.partitionBy("rep").orderBy(
        F.md5(
            F.concat(
                F.lit("perm:"),
                F.col("rep").cast("string"),
                F.lit(":"),
                F.col("ck").cast("string"),
            )
        ),
        "ck",
    )
    reps = (
        units.crossJoin(F.broadcast(reps_grid))
        .select("ck", "y", "rep", F.row_number().over(wrep).alias("rk"))
        .crossJoin(F.broadcast(g))
    )
    rstat = reps.groupBy("rep").agg(
        F.sum(F.when(F.col("rk") <= F.col("na"), F.col("y")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("pya"),
        F.sum(F.when(F.col("rk") > F.col("na"), F.col("y")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("pyb"),
    )
    verdicts = rstat.crossJoin(F.broadcast(g)).select(
        F.when(
            F.abs(F.col("pya") * F.col("nb") - F.col("pyb") * F.col("na"))
            >= F.abs(F.col("sya") * F.col("nb") - F.col("syb") * F.col("na")),
            1,
        )
        .otherwise(0)
        .alias("extreme"),
        "na",
        "nb",
    )
    return verdicts.agg(
        F.max("na").cast("bigint").alias("n_a"),
        F.max("nb").cast("bigint").alias("n_b"),
        F.lit(PERM_REPS).cast("bigint").alias("n_reps"),
        F.sum("extreme").cast("bigint").alias("n_extreme"),
        F.expr(
            f"CAST((2 * 10000 * (sum(extreme) + 1) + ({PERM_REPS} + 1))"
            f" DIV (2 * ({PERM_REPS} + 1)) AS BIGINT)"
        ).alias("p_value_bp"),
    )


@query(
    "forecast_seasonal_trend_strength",
    oracle="""
    WITH months AS (
        SELECT unnest(generate_series(1, 36)) AS t
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.t, coalesce(r.y, 0) AS y FROM months m
        LEFT JOIN rev r ON r.t = m.t
    ), ma AS (
        SELECT t, y,
               CASE WHEN t BETWEEN 7 AND 30 THEN
                    sum(2 * y) OVER (ORDER BY t
                        ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
                    + lag(y, 6) OVER (ORDER BY t)
                    + lead(y, 6) OVER (ORDER BY t)
               END AS t24
        FROM series
    ), interior AS (
        SELECT t, (t - 1) % 12 AS moy, 24 * y - t24 AS d24, 24 * y AS y24
        FROM ma WHERE t24 IS NOT NULL
    ), sidx AS (
        SELECT moy,
               CASE WHEN sum(d24) >= 0
                    THEN (2 * sum(d24) + count(*)) // (2 * count(*))
                    ELSE -((2 * -sum(d24) + count(*)) // (2 * count(*)))
               END AS s24
        FROM interior GROUP BY moy
    ), comp AS (
        SELECT i.d24, i.d24 - s.s24 AS r24, i.y24 - s.s24 AS ds24
        FROM interior i JOIN sidx s ON s.moy = i.moy
    ), v AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               CAST(count(*) AS HUGEINT)
                 * sum(CAST(r24 AS HUGEINT) * r24)
                 - CAST(sum(r24) AS HUGEINT) * sum(r24) AS var_r,
               CAST(count(*) AS HUGEINT)
                 * sum(CAST(d24 AS HUGEINT) * d24)
                 - CAST(sum(d24) AS HUGEINT) * sum(d24) AS var_sr,
               CAST(count(*) AS HUGEINT)
                 * sum(CAST(ds24 AS HUGEINT) * ds24)
                 - CAST(sum(ds24) AS HUGEINT) * sum(ds24) AS var_tr
        FROM comp
    )
    SELECT CAST(n AS BIGINT) AS n_interior,
           CAST(greatest(CAST(0 AS HUGEINT),
                (2 * 10000 * (var_tr - var_r) + var_tr) // (2 * var_tr))
               AS BIGINT) AS trend_strength_bp,
           CAST(greatest(CAST(0 AS HUGEINT),
                (2 * 10000 * (var_sr - var_r) + var_sr) // (2 * var_sr))
               AS BIGINT) AS seasonal_strength_bp
    FROM v
    """,
)
def forecast_seasonal_trend_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman's trend and seasonal STRENGTH features (tsfeatures /
    M4 meta-features): F_T = max(0, 1 − Var(R)/Var(T+R)) and
    F_S = max(0, 1 − Var(R)/Var(S+R)) over an additive classical
    decomposition — the two numbers a forecasting pipeline uses to
    ROUTE series to models (strongly seasonal → seasonal-naive /
    Holt-Winters; strongly trended → drift models) and the standard
    time-series embedding features.

    Exact decomposition contract: trend is the classic centered 2x12
    moving average carried as x24 integers (half-weights become whole
    numbers), seasonal indices are half-up integer means of the
    detrended x24 values per calendar month (negative-safe mirrored
    half-up), so remainder, detrended, and deseasonalized series are
    all exact BIGINTs on the 24 interior months — both strengths are
    pure cross-multiplied integer ratios (n·Σx² − (Σx)² variances) in
    half-up bp, floored at 0 like the published definition.

    100 TB: one month rollup; one 13-wide window pass on the
    calendar-bounded series; two tiny aggregates. The graded fact on
    this data — strong seasonality, weak trend — is exactly why
    holt_winters beats holt_linear on the same series.
    """
    cents = exact_cents(F.col("o_totalprice"))
    rev = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .filter(F.year("o_orderdate").between(1996, 1998))
        .groupBy(
            ((F.year("o_orderdate") - 1996) * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t")
        )
        .agg(F.sum(cents).cast("long").alias("y"))
    )
    months = spark.range(1, 37).select(F.col("id").cast("long").alias("t"))
    series = months.join(rev, "t", "left").select(
        "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    w = Window.orderBy("t")
    wma = Window.orderBy("t").rowsBetween(-5, 5)
    ma = series.select(
        "t",
        "y",
        F.when(
            F.col("t").between(7, 30),
            F.sum(2 * F.col("y")).over(wma)
            + F.lag("y", 6).over(w)
            + F.lead("y", 6).over(w),
        ).alias("t24"),
    )
    interior = ma.filter(F.col("t24").isNotNull()).select(
        "t",
        ((F.col("t") - 1) % 12).alias("moy"),
        (24 * F.col("y") - F.col("t24")).alias("d24"),
        (24 * F.col("y")).alias("y24"),
    )
    sidx = interior.groupBy("moy").agg(
        F.expr(
            "CASE WHEN sum(d24) >= 0"
            " THEN (2 * sum(d24) + count(*)) DIV (2 * count(*))"
            " ELSE -((2 * -sum(d24) + count(*)) DIV (2 * count(*))) END"
        ).alias("s24")
    )
    comp = interior.join(F.broadcast(sidx), "moy").select(
        "d24",
        (F.col("d24") - F.col("s24")).alias("r24"),
        (F.col("y24") - F.col("s24")).alias("ds24"),
    )

    def var(col: str) -> str:
        return (
            f"CAST(count(*) AS DECIMAL(38,0))"
            f" * sum(CAST({col} AS DECIMAL(38,0)) * {col})"
            f" - CAST(sum({col}) AS DECIMAL(38,0)) * sum({col})"
        )

    v = comp.agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr(var("r24")).alias("var_r"),
        F.expr(var("d24")).alias("var_sr"),
        F.expr(var("ds24")).alias("var_tr"),
    )
    return v.select(
        F.col("n").alias("n_interior"),
        F.expr(
            "CAST(greatest(CAST(0 AS DECIMAL(38,0)),"
            " (2 * 10000 * (var_tr - var_r) + var_tr) DIV nullif(2 * var_tr, 0))"
            " AS BIGINT)"
        ).alias("trend_strength_bp"),
        F.expr(
            "CAST(greatest(CAST(0 AS DECIMAL(38,0)),"
            " (2 * 10000 * (var_sr - var_r) + var_sr) DIV nullif(2 * var_sr, 0))"
            " AS BIGINT)"
        ).alias("seasonal_strength_bp"),
    )


# Theta-method constants: 2x2 calendar Gram over t = 1..36 (literal
# adjugate, the piecewise-trend device) and the dyadic SES horizon.
_TH2_N = 36
_TH2_ST = sum(range(1, _TH2_N + 1))
_TH2_STT = sum(t * t for t in range(1, _TH2_N + 1))
TH2_DET = _TH2_N * _TH2_STT - _TH2_ST * _TH2_ST
# intercept numerator = stt*b0 - st*b1 ; slope numerator = n*b1 - st*b0


@query(
    "forecast_theta_method",
    oracle=f"""
    WITH months AS (
        SELECT unnest(generate_series(1, {_TH2_N})) AS t
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.t, coalesce(r.y, 0) AS y FROM months m
        LEFT JOIN rev r ON r.t = m.t
    ), sums AS (
        SELECT CAST(sum(y) AS HUGEINT) AS b0,
               CAST(sum(t * y) AS HUGEINT) AS b1
        FROM series
    ), coef AS (
        SELECT {_TH2_STT} * b0 - {_TH2_ST} * b1 AS na,
               {_TH2_N} * b1 - {_TH2_ST} * b0 AS nb
        FROM sums
    ), theta AS (
        SELECT s.t,
               2 * CAST(s.y AS HUGEINT) * {TH2_DET} - (c.na + c.nb * s.t)
                   AS x_num
        FROM series s CROSS JOIN coef c
    ), ses AS (
        SELECT CAST(sum(CASE WHEN t = 1 THEN x_num
                             ELSE x_num * (CAST(1 AS HUGEINT) << CAST(t - 2 AS INTEGER))
                        END) AS HUGEINT) AS s_num
        FROM theta
    )
    SELECT
        CAST((2 * 100 * c.na + {TH2_DET})
             // (2 * CAST({TH2_DET} AS HUGEINT)) AS BIGINT)
            AS intercept_centi,
        CAST((2 * 100 * c.nb + {TH2_DET})
             // (2 * CAST({TH2_DET} AS HUGEINT)) AS BIGINT) AS slope_centi,
        CAST((2 * 100 * s.s_num + CAST({TH2_DET} AS HUGEINT) * 34359738368)
             // (2 * CAST({TH2_DET} AS HUGEINT) * 34359738368) AS BIGINT)
            AS theta2_ses_centi,
        CAST((2 * 100 * (c.na + {_TH2_N + 1} * c.nb) + {TH2_DET})
             // (2 * CAST({TH2_DET} AS HUGEINT)) AS BIGINT)
            AS trend_next_centi,
        CAST((2 * 100 * ((c.na + {_TH2_N + 1} * c.nb)
                         * CAST(34359738368 AS HUGEINT) + s.s_num)
              + 2 * CAST({TH2_DET} AS HUGEINT) * 34359738368)
             // (2 * 2 * CAST({TH2_DET} AS HUGEINT) * 34359738368) AS BIGINT)
            AS forecast_next_centi
    FROM coef c CROSS JOIN ses s
    """,
)
def forecast_theta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theta method (Assimakopoulos & Nikolopoulos 2000) — the
    M3/M4-competition-winning forecaster — in its classic two-line
    form: decompose the 36-month series into the theta=0 line (the
    OLS trend) and the theta=2 line (2y - trend, double curvature),
    run simple exponential smoothing over the theta=2 line, and
    forecast as the average of the extrapolated trend and the SES
    level. Reports the trend coefficients, the SES level, and the
    one-step-ahead combination forecast in centi-cents.

    Every number is an exact integer rational by composing three
    proven devices: the OLS trend via the CALENDAR-GRAM literal
    adjugate (coefficients = integer numerators over the literal
    det = {TH2_DET}); the theta=2 line carried as numerators over
    that same denominator; and SES with alpha = 1/2 as the dyadic
    fold (L·2^35 = x_1 + Σ x_t·2^(t-2) — a plain weighted SUM, no
    recursion), all HUGEINT/DECIMAL(38) with half-up centi reports.

    100 TB: one month rollup, two OVER () window sums over its 36
    rows, one weighted sum — the M4 winner costs three aggregates in
    one lazy plan. The graded companion to holt_winters
    (trend+seasonality) and the pinball scoreboard that prices such
    forecasts.
    """
    cents = exact_cents(F.col("o_totalprice"))
    rev = (
        load(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate").between(1996, 1998))
        .groupBy(
            ((F.year("o_orderdate") - 1996) * 12 + F.month("o_orderdate"))
            .cast("long")
            .alias("t")
        )
        .agg(F.sum(cents).cast("long").alias("y"))
    )
    months = spark.range(1, _TH2_N + 1).select(F.col("id").cast("long").alias("t"))
    series = months.join(rev, "t", "left").select(
        "t", F.coalesce("y", F.lit(0)).alias("y")
    )
    b0 = "CAST(sum(y) OVER () AS DECIMAL(38,0))"
    b1 = "CAST(sum(t * y) OVER () AS DECIMAL(38,0))"
    coef = series.select(
        "t",
        "y",
        F.expr(f"{_TH2_STT} * {b0} - {_TH2_ST} * {b1}").alias("na"),
        F.expr(f"{_TH2_N} * {b1} - {_TH2_ST} * {b0}").alias("nb"),
    )
    ses = coef.withColumn(
        "x_num",
        F.expr(f"2 * CAST(y AS DECIMAL(38,0)) * {TH2_DET} - (na + nb * t)"),
    ).agg(
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.sum(
            F.expr(
                "CASE WHEN t = 1 THEN x_num"
                " ELSE x_num * CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(t - 2 AS INT)) AS DECIMAL(38,0)) END"
            )
        ).alias("s_num"),
    )
    d = TH2_DET
    return ses.select(
        F.expr(
            f"CAST((2 * 100 * na + {d})"
            f" DIV (2 * CAST({d} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("intercept_centi"),
        F.expr(
            f"CAST((2 * 100 * nb + {d})"
            f" DIV (2 * CAST({d} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("slope_centi"),
        F.expr(
            f"CAST((2 * 100 * s_num + CAST({d} AS DECIMAL(38,0))"
            f" * {1 << 35}) DIV (2 * CAST({d} AS DECIMAL(38,0))"
            f" * {1 << 35}) AS BIGINT)"
        ).alias("theta2_ses_centi"),
        F.expr(
            f"CAST((2 * 100 * (na + {_TH2_N + 1} * nb) + {d})"
            f" DIV (2 * CAST({d} AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("trend_next_centi"),
        F.expr(
            f"CAST((2 * 100 * ((na + {_TH2_N + 1} * nb)"
            f" * CAST({1 << 35} AS DECIMAL(38,0)) + s_num)"
            f" + 2 * CAST({d} AS DECIMAL(38,0)) * {1 << 35})"
            f" DIV (2 * 2 * CAST({d} AS DECIMAL(38,0)) * {1 << 35})"
            f" AS BIGINT)"
        ).alias("forecast_next_centi"),
    )


# --- Markov-chain attribution ----------------------------------------------
#
# States: start + the four non-converting event channels; absorption =
# first purchase (conversion) or end-of-history (null). The absorption
# equations x_s = sum_j p_sj x_j + p_s,conv are integer-scaled by each
# row's visit count (A = diag(visits) - N, b = conversions), so every
# conversion probability is the exact rational det(A_col0<-b)/det(A) of
# INTEGER determinants — generated cofactor expansions, evaluated as
# DECIMAL(38,0)/HUGEINT arithmetic, never floats. Removal effects
# re-solve the 4x4 systems without the removed channel.
MARKOV_CHANNELS = ["signup", "view", "click", "error"]


def _mk_det_text(m, big: str) -> str:
    """Exact cofactor-expansion determinant over column-name matrix m."""
    if len(m) == 1:
        return f"CAST({m[0][0]} AS {big})"
    parts = []
    for j in range(len(m)):
        minor = [row[:j] + row[j + 1:] for row in m[1:]]
        sign = "+" if j % 2 == 0 else "-"
        parts.append(
            f"{sign} CAST({m[0][0 + j]} AS {big}) * ({_mk_det_text(minor, big)})"
        )
    return " ".join(parts).lstrip("+ ")


def _mk_states() -> list:
    return ["st"] + [c[:2] for c in MARKOV_CHANNELS]


def _mk_amat(states) -> list:
    # transitions INTO start are structurally zero: that column is
    # v_st on the diagonal and literal 0 elsewhere.
    out = []
    for si in states:
        row = []
        for sj in states:
            if sj == "st":
                row.append("(v_st)" if si == "st" else "(0)")
            elif si == sj:
                row.append(f"(v_{si} - t_{si}_{sj})")
            else:
                row.append(f"(0 - t_{si}_{sj})")
        out.append(row)
    return out


def _mk_solve(states, big: str) -> tuple:
    """(det(A), det(A with col0 <- b)) expression texts."""
    a = _mk_amat(states)
    ab = [[f"b_{si}"] + row[1:] for si, row in zip(states, a)]
    return _mk_det_text(a, big), _mk_det_text(ab, big)


def _mk_selects(big: str) -> str:
    states = _mk_states()
    det_a, det_x = _mk_solve(states, big)
    # nullif divisor (r10): on a zero determinant (possible only on a
    # degenerate/empty transition matrix) Spark ANSI DIV raises while
    # DuckDB // returns NULL — nullif(x, 0) is identical syntax and
    # semantics in BOTH engines, a no-op whenever det != 0.
    sel = [
        f"CAST((2 * 1000000 * ({det_x}) + ({det_a}))"
        f" {{DIV}} nullif(2 * ({det_a}), 0) AS BIGINT) AS p_conv_e6"
    ]
    for ch in MARKOV_CHANNELS:
        sub = [s for s in states if s != ch[:2]]
        da, dx = _mk_solve(sub, big)
        sel.append(
            f"CAST((2 * 1000000 * ({dx}) + ({da}))"
            f" {{DIV}} nullif(2 * ({da}), 0) AS BIGINT) AS p_wo_{ch}_e6"
        )
    return ",\n           ".join(sel)


def _markov_attr_oracle() -> str:
    tcols = ",\n               ".join(
        f"CAST(count(*) FILTER (s = '{a}' AND d = '{b}') AS BIGINT)"
        f" AS t_{'st' if a == 'start' else a[:2]}_{b[:2]}"
        for a in ["start"] + MARKOV_CHANNELS
        for b in MARKOV_CHANNELS
    )
    bcols = ",\n               ".join(
        f"CAST(count(*) FILTER (s = '{a}' AND d = 'purchase') AS BIGINT)"
        f" AS b_{'st' if a == 'start' else a[:2]}"
        for a in ["start"] + MARKOV_CHANNELS
    )
    vcols = ",\n               ".join(
        f"CAST(count(*) FILTER (vtype = '{c}') AS BIGINT) AS v_{c[:2]}"
        for c in MARKOV_CHANNELS
    )
    sel = _mk_selects("HUGEINT").replace("{DIV}", "//")
    return f"""
    WITH ordered AS (
        SELECT user_id, event_type, 
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events WHERE ts IS NOT NULL
    ), firstp AS (
        SELECT user_id, min(rn) AS prn FROM ordered
        WHERE event_type = 'purchase' GROUP BY 1
    ), chain AS (
        SELECT o.user_id, o.event_type, o.rn
        FROM ordered o LEFT JOIN firstp f ON f.user_id = o.user_id
        WHERE f.prn IS NULL OR o.rn <= f.prn
    ), trans AS (
        SELECT coalesce(lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY rn), 'start') AS s,
               event_type AS d
        FROM chain
    ), tmat AS (
        SELECT {tcols},
               {bcols}
        FROM trans
    ), visits AS (
        SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM chain)
                   AS v_st,
               {vcols}
        FROM (SELECT user_id, event_type AS vtype FROM chain
              WHERE event_type <> 'purchase')
    ), m AS (
        SELECT * FROM tmat CROSS JOIN visits
    ), solved AS (
        SELECT {sel}
        FROM m
    )
    SELECT * FROM solved
    """


@query("attribution_markov_removal", oracle=_markov_attr_oracle())
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution — the data-driven
    multi-touch model (Anderl et al. 2016) that prices each channel by
    how much the chain's conversion probability DROPS when the channel
    is removed, the principled alternative to positional heuristics
    (first/last/position/decay/Shapley — all registered siblings).
    User journeys truncate at first purchase; states are start + the
    four event channels; absorption is conversion or end-of-history.

    Exactness device: scaling each absorption equation by its state's
    visit count turns the stochastic system into an INTEGER linear
    system (A = diag(visits) − N, b = conversion counts), so the
    full-chain and each channel-removed conversion probability is the
    exact rational det(A|col0←b)/det(A) — generated cofactor
    expansions over the 5x5/4x4 integer count matrices evaluated in
    DECIMAL(38,0)/HUGEINT, reported as half-up e6. No iteration, no
    floats, no matrix library.

    100 TB: one user-grain window pass builds transitions; everything
    after lives on ONE 30-integer row (the count matrix) — Cramer on
    literal-size systems is free. More channels → the same generator
    emits bigger expansions (or hand off to the PageRank-style
    iterative contract past ~8 states).
    """
    # null-ts device (r11): no position in the journey order
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select("user_id", "event_type", F.row_number().over(wo).alias("rn"))
    firstp = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("user_id").alias("pu"))
        .agg(F.min("rn").alias("prn"))
    )
    chain = (
        ordered.join(firstp, ordered.user_id == F.col("pu"), "left")
        .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select("user_id", "event_type", "rn")
        # ckpt-grain: slim-exception — 3-col per-user event ranks truncated at first purchase
        .localCheckpoint(eager=False)
    )
    wc = Window.partitionBy("user_id").orderBy("rn")
    trans = chain.select(
        F.coalesce(F.lag("event_type").over(wc), F.lit("start")).alias("s"),
        F.col("event_type").alias("d"),
    )
    t_aggs = [
        F.count_if((F.col("s") == a) & (F.col("d") == b))
        .cast("long")
        .alias(f"t_{'st' if a == 'start' else a[:2]}_{b[:2]}")
        for a in ["start"] + MARKOV_CHANNELS
        for b in MARKOV_CHANNELS
    ]
    b_aggs = [
        F.count_if((F.col("s") == a) & (F.col("d") == "purchase"))
        .cast("long")
        .alias(f"b_{'st' if a == 'start' else a[:2]}")
        for a in ["start"] + MARKOV_CHANNELS
    ]
    tmat = trans.agg(*t_aggs, *b_aggs)
    # v_st counts EVERY user's start visit (a user whose first event
    # is the purchase still leaves start — counting only non-purchase
    # rows undercounted it and inflated p>1; caught by the Fraction pin)
    visits = chain.agg(
        F.countDistinct("user_id").cast("long").alias("v_st"),
        *[
            F.count_if(F.col("event_type") == c).cast("long").alias(f"v_{c[:2]}")
            for c in MARKOV_CHANNELS
        ],
    )
    m = tmat.crossJoin(F.broadcast(visits))
    sel = _mk_selects("DECIMAL(38,0)").replace("{DIV}", "DIV")
    solved = m.selectExpr(*[s.strip() for s in sel.split(",\n           ")])
    return solved
