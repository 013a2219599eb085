"""Window functions + event-time windowing over the ``events`` table.

Covers: per-group top-k (reference T2's real semantics — top-3 scored
links *per company*, app.py:188), rank/lag/lead, running aggregates
(reference A5 progress ratio), frame-based moving averages, and the
tumbling / sliding / session event-time windows the streaming engine
needs (SURVEY.md §2.9 engine requirement).

Scale notes: every window below partitions by a key (user_id/custkey) —
never a global ORDER BY over the whole table, which would single-task.
Event-time buckets are computed arithmetically (epoch-aligned), so they
stay in whole-stage codegen and group-by-bucket is an ordinary hash agg.
Session windows use the lag/cumsum island pattern: two window passes
over the same (user_id, ts) sort order → Catalyst reuses one shuffle+sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import (
    ddbl,
    SQL_TIMED_FINITE_EVENTS,
    cents_total,
    d53,
    d53s,
    davg,
    davg_over,
    dsum,
    dsum_over,
    exact_cents,
    finite,
    sql_d53,
    sql_d53s,
    sql_davg,
    sql_davg_over,
)

from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load


def order_month() -> Column:
    """The order month key, ``yyyy-MM`` of o_orderdate."""
    return F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")


def order_cents_rollup(
    orders: DataFrame, keys: list[Column], alias: str, *extra: Column
) -> DataFrame:
    """The order-revenue rollup: ``orders`` grouped by ``keys``, with the
    rounded cents total of o_totalprice as ``alias`` followed by the
    ``extra`` aggregates. The caller loads and filters ``orders``."""
    return orders.groupBy(*keys).agg(
        cents_total(F.col("o_totalprice")).alias(alias), *extra
    )


def _events_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with non-finite values nullified (the adversarial-values
    scalar device) AND null-ts rows dropped (the r11 planted-NULLs ts
    wave): NaN/Inf measurements adopt NULL semantics before any
    decimal-exactness cast, and a row with no event time has no place
    in any ORDER BY ts frame, bucket, or session — the engines even
    disagree where the NULL sorts (Spark NULLS FIRST, DuckDB NULLS
    LAST), so the only total contract is the watermark one: drop it
    at entry. Oracles swap FROM events for SQL_TIMED_FINITE_EVENTS.
    Both filters are no-ops on the clean generator data, so graded
    hashes are unchanged."""
    return (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("value", finite(F.col("value")))
    )


@query(
    "window_topk_orders_per_customer",
    oracle="""
    SELECT custkey, orderkey, totalprice, rn
    FROM (
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               round(o_totalprice, 2) AS totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) t WHERE rn <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: the reference's top-3-links-per-company (T2)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        load(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@query(
    "window_rank_lag_lead_events",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    )
    SELECT event_id, user_id,
           rank()  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rnk,
           round(lag(value)  OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 2) AS prev_value,
           round(lead(value) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), 2) AS next_value
    FROM e
    """,
)
def window_rank_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        load(spark, sf_dir, "events")
        # null-ts device (r11): no position in the ORDER BY ts frame
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.rank().over(w).alias("rnk"),
            F.round(F.lag("value").over(w), 2).alias("prev_value"),
            F.round(F.lead("value").over(w), 2).alias("next_value"),
        )
    )


@query(
    "window_running_revenue_per_customer",
    oracle="""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                          OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                          OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6)))
                          OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate ASC, o_orderkey ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
               AS running_spend
    FROM orders WHERE o_orderdate IS NOT NULL
    """,
)
def window_running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative aggregate (reference A5 progress-ratio analog).

    ROWS frame (not the default RANGE) so ties accumulate row-by-row
    deterministically given the (date, key) tie-break."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        dsum_over(F.col("o_totalprice"), w, 2).alias("running_spend"),
    )


@query(
    "window_moving_avg_events",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM {SQL_TIMED_FINITE_EVENTS} events
    )
    SELECT event_id, user_id,
           {sql_davg_over("value", "OVER w", 4)} AS mavg_value
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-3, Window.currentRow)
    )
    return _events_finite(spark, sf_dir).select(
        "event_id", "user_id", davg_over(F.col("value"), w, 4).alias("mavg_value")
    )


# ---------------------------------------------------------------------------
# Event-time windows (batch twins of the streaming operators, §2.9)
# ---------------------------------------------------------------------------

@query(
    "window_tumbling_10min",
    oracle=f"""
    SELECT strftime(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 600) * 600 AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS total_value
    FROM {SQL_TIMED_FINITE_EVENTS} events
    GROUP BY 1, 2
    """,
)
def window_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute window counts — Spark ``window()`` is
    epoch-aligned, matching the oracle's floor(epoch/600) buckets."""
    return (
        _events_finite(spark, sf_dir)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "window_sliding_1h_30min",
    oracle=f"""
    WITH offsets(off) AS (VALUES (0), (1800))
    SELECT strftime(to_timestamp(CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) * 3600 + off AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           {sql_davg("value", 4)} AS avg_value
    FROM {SQL_TIMED_FINITE_EVENTS} events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def window_sliding_1h_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h, slide 30 min): each event lands in 2 windows.
    Oracle expresses the same as a union of two offset tumbling grids."""
    return (
        _events_finite(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            davg(F.col("value"), 4).alias("avg_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "avg_value",
        )
    )


@query(
    "window_sliding_panes",
    oracle=f"""
    WITH offsets(off) AS (VALUES (0), (1800))
    SELECT strftime(to_timestamp(CAST(floor((epoch(CAST(ts AS TIMESTAMP)) - off) / 3600) * 3600 + off AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n_events,
           {sql_davg("value", 4)} AS avg_value
    FROM {SQL_TIMED_FINITE_EVENTS} events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def window_sliding_panes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 1 h / 30 min sliding aggregation as
    window_sliding_1h_30min, computed the INCREMENTAL pane way
    (CPiX / panes-slices family, PAPERS.md): events first aggregate
    into non-overlapping 30-min panes (each event touched ONCE), then
    each pane's partials merge into the two sliding windows that
    contain it. The built-in F.window duplicates every event into
    window/slide = 2 rows before aggregating — at a 1 h window with a
    1-min slide that is a 60× row blow-up, while the pane plan stays
    one-pass with a 60-row-per-pane merge; the pattern is also how an
    out-of-order stream re-aggregates cheaply (only the touched pane
    recomputes, not the whole window).

    Exactness: pane partials are (count, exact decimal micro-sum) —
    both mergeable integers — so the merged mean goes through the SAME
    tie-safe integer rounding as the direct aggregation and the output
    is bit-identical (same oracle text as the direct twin; row-level
    equality with window_sliding_1h_30min is pinned in
    tests/test_numeric.py).
    """
    from leadsight_sales_agent_spark.functions.numeric import _micro, _tie_safe_avg

    ev = _events_finite(spark, sf_dir)
    pane = (
        ev.withColumn(
            "pane_start",
            (F.floor(F.unix_timestamp("ts") / 1800) * 1800).cast("bigint"),
        )
        .groupBy("pane_start")
        .agg(
            F.count("*").alias("n"),
            # nv: NON-NULL value count — the avg denominator (r10 nulls
            # audit: dividing the null-skipping sum by count(*) skewed
            # the mean on panes containing null-value events; davg's
            # contract is sum(value)/count(value) on both engines)
            F.count("value").alias("nv"),
            F.sum(_micro(F.col("value"))).alias("m"),
        )
    )
    windows = pane.select(
        F.explode(
            F.array(F.col("pane_start"), F.col("pane_start") - 1800)
        ).alias("window_start_s"),
        "n",
        "nv",
        "m",
    )
    merged = windows.groupBy("window_start_s").agg(
        F.sum("n").alias("n_events"),
        F.sum("nv").alias("n_vals"),
        F.sum("m").alias("m_total"),
    )
    return merged.select(
        F.date_format(
            F.timestamp_seconds(F.col("window_start_s")), "yyyy-MM-dd HH:mm:ss"
        ).alias("window_start"),
        "n_events",
        _tie_safe_avg(F.col("m_total"), F.col("n_vals"), 4).alias("avg_value"),
    )


@query(
    "window_session_30min_gap",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
        FROM {SQL_TIMED_FINITE_EVENTS} events
    ), flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
                         > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
    ), sessioned AS (
        SELECT user_id, ts, value, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS total_value
    FROM sessioned
    GROUP BY 1, 2
    """,
)
def window_session_30min_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) via the lag/cumsum island
    pattern — identical algebra in both engines so the oracle is exact.
    (Streaming mode uses session_window(); see streaming/demo.py.)

    The gap compares exact epoch MICROSECONDS on both sides. The prior
    second-truncated ``cast("long")`` diff disagreed with the oracle's
    exact-interval compare for gaps inside (1800 s, 1801 s): the
    truncated difference can land on either side of 1800, flipping a
    session boundary (r1's one driver hash mismatch)."""
    ev = _events_finite(spark, sf_dir)
    w_order = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_ts = F.lag("ts").over(w_order)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1800 * 1_000_000),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(w_cum))
        .groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.count("*").alias("n_events"),
            dsum(F.col("value"), 2).alias("total_value"),
        )
    )


@query(
    "window_session_builtin",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
        FROM {SQL_TIMED_FINITE_EVENTS} events
    ), flagged AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
                         >= 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
    ), sessioned AS (
        SELECT user_id, ts, value, event_id,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS total_value
    FROM sessioned
    GROUP BY user_id, sid
    """,
)
def window_session_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows via the BUILT-IN ``session_window()`` — the
    operator Spark ships for gap-based sessions (and the one the
    streaming engine merges state with), next to the manual island twin
    above. Semantics note the oracle mirrors: the built-in merges an
    event while ``next_ts < last_ts + gap``, so a gap of EXACTLY 30:00
    starts a new session (>=), whereas the island pattern's ``> gap``
    keeps it — the two queries are deliberately distinct on that
    boundary and each oracle encodes its own rule."""
    return (
        _events_finite(spark, sf_dir)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum(F.col("value"), 2).alias("total_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@query(
    "date_functions_orders",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
           count(*) AS n_orders,
           CAST(max(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')) AS INTEGER)
               AS max_age_days
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function parity: year/month/quarter/datediff."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.max(F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")))
            .cast("int")
            .alias("max_age_days"),
        )
    )


@query(
    "window_ntile_percent_rank",
    oracle="""
    SELECT o_orderkey AS orderkey,
           o_orderpriority AS priority,
           ntile(4) OVER w AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(rank() OVER w AS BIGINT) AS rnk
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: ntile buckets, percent_rank,
    cume_dist — per-priority price distribution. Same shuffle shape as
    any partitioned window: one exchange on the partition key."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 2000)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderpriority").alias("priority"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
    )


# -- Gap-filled resampling ----------------------------------------------------

RESAMPLE_BUCKET_MIN = 30  # resample the event stream to 30-minute buckets


@query(
    "resample_gap_filled_30min",
    oracle=f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS t0,
               time_bucket(INTERVAL {RESAMPLE_BUCKET_MIN} MINUTE, max(ts)) AS t1
        FROM events
    ), grid AS (
        SELECT gs.b AS bucket, et.event_type
        FROM bounds,
             unnest(generate_series(t0, t1, INTERVAL {RESAMPLE_BUCKET_MIN} MINUTE))
                 AS gs(b),
             (SELECT DISTINCT event_type FROM events) et
    ), actual AS (
        SELECT time_bucket(INTERVAL {RESAMPLE_BUCKET_MIN} MINUTE, ts) AS bucket,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT g.bucket, g.event_type,
           COALESCE(a.n, 0) AS n_events
    FROM grid g LEFT JOIN actual a
      ON g.bucket = a.bucket AND g.event_type = a.event_type
    """,
)
def resample_gap_filled_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resampling: count events per 30-minute bucket per
    type, EMITTING ZERO ROWS for empty buckets — the dense time grid
    charting, anomaly detection, and forecasting inputs require (a
    plain groupBy silently drops empty buckets; the gaps ARE the
    signal in monitoring data).

    The dense grid is generated, not stored: `sequence()` between the
    hour-truncated min/max timestamps exploded against the distinct
    event types, then a left join against the actual bucket counts.
    Grid size is (time-range / bucket) × #types — independent of event
    volume, so at 100 TB the grid stays tiny — and so is the
    aggregated counts side (same keyspace), which is the side the left
    join can legally broadcast (Spark cannot broadcast the PRESERVED
    side of an outer join — a hint there is silently dropped with a
    warning). Bucket truncation uses
    integer epoch arithmetic (`time_bucket` twin) to stay engine-exact.
    """
    ev = load(spark, sf_dir, "events")
    bucket_s = RESAMPLE_BUCKET_MIN * 60
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / bucket_s).cast("long") * bucket_s
    )
    actual = (
        ev.select(bucket.alias("bucket"), "event_type")
        .groupBy("bucket", "event_type")
        .agg(F.count("*").alias("n"))
    )
    # Upper bound uses the SAME 30-minute floor as `actual`: an
    # hour-truncated t1 would omit the final half-hour bucket whenever
    # max(ts) lands in :30–:59, silently dropping its events from the
    # left join. The lower bound may stay hour-truncated (hour floor
    # <= bucket floor, and the grid steps stay :00/:30-aligned).
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("t0"),
        F.timestamp_seconds(
            (F.unix_timestamp(F.max("ts")) / bucket_s).cast("long") * bucket_s
        ).alias("t1"),
    )
    grid = (
        bounds.select(
            F.explode(
                F.sequence(
                    "t0", "t1", F.expr(f"INTERVAL {RESAMPLE_BUCKET_MIN} MINUTES")
                )
            ).alias("bucket")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    return (
        grid.join(F.broadcast(actual), ["bucket", "event_type"], "left")
        .select(
            "bucket", "event_type", F.coalesce("n", F.lit(0)).alias("n_events")
        )
    )


@query(
    "window_rolling_median_events",
    oracle=f"""
    SELECT event_id, user_id,
           quantile_cont(value, 0.5) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
           ) AS rolling_median
    FROM {SQL_TIMED_FINITE_EVENTS} events
    """,
)
def window_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of event value over the last 10 events per user —
    the robust-location sibling of window_moving_avg_events (a median
    shrugs off the spikes that drag a mean).

    `percentile` runs as a windowed aggregate over an explicit ROWS
    frame; partitioned by user, ordered with a unique (ts, event_id)
    tiebreak so frames are deterministic. Exactness note: for ≤10-row
    frames the interpolated median is a mean of two order statistics —
    (a+b)/2 is exact in binary, so no rounding guard is needed (unlike
    order-dependent SUMs). At 100 TB a windowed exact median re-sorts
    each frame; the streaming-scale variant keeps a fixed-size heap in
    applyInPandasWithState or falls back to approx_percentile per
    bucket.
    """
    from pyspark.sql import Window

    ev = _events_finite(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-9, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.percentile("value", F.lit(0.5)).over(w).alias("rolling_median"),
    )


@query(
    "pattern_error_after_purchase",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts, event_type,
               lag(event_type) OVER w AS prev_type,
               lag(ts) OVER w AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(epoch_us(ts) - epoch_us(prev_ts) AS BIGINT) AS gap_us
    FROM seq
    WHERE event_type = 'error' AND prev_type = 'purchase'
      AND epoch_us(ts) - epoch_us(prev_ts) <= 600 * 1000000
    """,
)
def pattern_error_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection: errors that IMMEDIATELY follow a
    purchase by the same user within 10 minutes — the adjacency query
    behind "did checkout break?" funnels and MATCH_RECOGNIZE-style
    alerting, expressed with one partitioned lag() pass (no self-join:
    the naive events×events time-band join shuffles the log twice and
    explodes on hot users).

    Gap compared in exact microseconds (`unix_micros` twin of DuckDB's
    `epoch_us`) — the r1 session-window lesson: never compare
    event-time gaps on second-truncated casts.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    seq = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    gap = F.unix_micros("ts") - F.unix_micros("prev_ts")
    return (
        seq.filter(
            (F.col("event_type") == "error")
            & (F.col("prev_type") == "purchase")
            & (gap <= 600 * 1_000_000)
        )
        .select("user_id", "event_id", gap.alias("gap_us"))
    )


@query(
    "window_ratio_to_report",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               ((CAST(CAST((CAST(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS nation_revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation, nation_revenue,
           round(nation_revenue * 100
                 / sum(nation_revenue) OVER (PARTITION BY region), 4)
               AS pct_of_region
    FROM rev
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of its region's revenue —
    the percent-of-total reporting pattern (windowed sum as the
    denominator, no second aggregation pass, no join back).

    The heavy lifting (orders → nation rollup) happens BEFORE the
    window, so the window partition is ~nations-per-region rows, not
    order rows — windowing the fact table by region would serialize
    each region through one task at 100 TB. Revenue goes through the
    decimal-sum path; the percentage divides two identical exact-sum
    doubles, so round(4) is engine-stable.
    """
    from pyspark.sql import Window

    from leadsight_sales_agent_spark.functions.numeric import dsum

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"),
        F.col("n_name").alias("nation"),
        "n_regionkey",
    )
    region = load(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), F.col("r_name").alias("region")
    )
    rev = (
        orders.join(F.broadcast(cust), "o_custkey")
        .join(F.broadcast(nation), "c_nationkey")
        .join(F.broadcast(region), "n_regionkey")
        .groupBy("region", "nation")
        .agg(dsum(F.col("o_totalprice")).alias("nation_revenue"))
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        "nation_revenue",
        F.round(
            F.col("nation_revenue") * 100 / F.sum("nation_revenue").over(w), 4
        ).alias("pct_of_region"),
    )


@query(
    "pareto_abc_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                   AS part_rev
        FROM lineitem GROUP BY 1
    ), cum AS (
        SELECT l_partkey, part_rev,
               sum(part_rev) OVER (ORDER BY part_rev DESC, l_partkey) AS cum_rev,
               sum(part_rev) OVER () AS total_rev
        FROM rev
    )
    SELECT CASE WHEN cum_rev * 10 <= total_rev * 8 THEN 'A'
                WHEN cum_rev * 20 <= total_rev * 19 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_parts,
           ((CAST(CAST((CAST(CAST(round(sum(part_rev), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(part_rev), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(part_rev), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS class_revenue
    FROM cum GROUP BY 1
    """,
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification: rank parts by revenue,
    take the running revenue share, and label the parts covering the
    first 80% of revenue 'A', the next 15% 'B', the tail 'C' — the
    80/20 analysis every supply-chain warehouse runs.

    Cross-engine exactness: the share thresholds are evaluated WITHOUT
    division — `cum*10 <= total*8` instead of `cum/total <= 0.8` —
    because decimal÷decimal rounds differently per engine while
    decimal×integer is exact. Running sum orders by (part_rev DESC,
    l_partkey): a total order, so the cumulative value at each row is
    unique and deterministic. Scale: the per-part aggregation is the
    only fact-table shuffle; the ranked running sum runs over the
    much smaller per-part frame but IS a single-partition window here
    — the 100 TB form is the two-phase prefix sum (per-partition
    presums + broadcast cumulative offsets), same algebra, and the
    final classify/count is a 3-group aggregate either way.
    """
    li = load(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
        ).alias("part_rev")
    )
    w_cum = Window.orderBy(F.desc("part_rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy()
    cum = rev.select(
        "part_rev",
        F.sum("part_rev").over(w_cum).alias("cum_rev"),
        F.sum("part_rev").over(w_tot).alias("total_rev"),
    )
    cls = (
        F.when(F.col("cum_rev") * 10 <= F.col("total_rev") * 8, "A")
        .when(F.col("cum_rev") * 20 <= F.col("total_rev") * 19, "B")
        .otherwise("C")
    )
    return cum.groupBy(cls.alias("abc_class")).agg(
        F.count("*").alias("n_parts"),
        ddbl(F.round(F.sum("part_rev"), 2), 2).alias("class_revenue"),
    )


@query(
    "window_first_last_nth",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type, value,
               row_number() OVER w AS rn,
               first_value(event_type) OVER w AS first_event,
               last_value(event_type) OVER w AS last_event,
               nth_value(event_type, 3) OVER w AS third_event,
               first_value(CASE WHEN event_type = 'purchase' THEN value END
                           IGNORE NULLS) OVER w AS first_purchase_value
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, first_event, last_event, third_event,
           first_purchase_value
    FROM ordered WHERE rn = 1
    """,
)
def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-boundary window functions: per user's full event history
    (ordered by ts with event_id tiebreak — a total order, mandatory
    for grading), the first event type, the last, the third
    (nth_value, NULL for users with <3 events), and the value of the
    first 'purchase' — first_value with IGNORE NULLS over a CASE, the
    standard "first matching event" idiom that avoids a second
    self-join pass.

    The frame must be explicitly ROWS UNBOUNDED PRECEDING..UNBOUNDED
    FOLLOWING: with the default frame (unbounded preceding..current
    row), last_value degenerates to the current row and nth_value
    returns NULL until row 3 — the classic window-frame footgun, same
    in every engine. One shuffle on user_id; the rn=1 filter collapses
    to one row per user without a second aggregation (Spark plans
    first/last/nth in the same WindowExec pass as row_number).
    """
    # null-ts device (r11): no position in the ORDER BY ts frame
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("user_id").orderBy("ts", "event_id")
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    out = ev.select(
        "user_id",
        F.row_number().over(w_rn).alias("rn"),
        F.first("event_type").over(w).alias("first_event"),
        F.last("event_type").over(w).alias("last_event"),
        F.nth_value("event_type", 3).over(w).alias("third_event"),
        F.first(purchase_val, ignorenulls=True).over(w).alias("first_purchase_value"),
    )
    return out.filter(F.col("rn") == 1).drop("rn")


@query(
    "window_range_interval_counts",
    oracle=f"""
    SELECT event_id,
           count(*) OVER w AS n_prev_hour,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))) OVER w, 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))) OVER w, 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(value AS DECIMAL(25,6))) OVER w, 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE))
               AS value_prev_hour
    FROM {SQL_TIMED_FINITE_EVENTS} events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed (value-based) window: for every event, how many
    events the same user produced in the trailing hour and their exact
    value sum — the per-event velocity feature behind rate limiting and
    fraud scoring. Unlike the tumbling/sliding bucket windows, the
    frame here is anchored at EACH row and bounded by an interval of
    the ORDER BY value, not by row counts.

    Determinism: RANGE frames include all peers of the boundary value,
    so ties in ts need no tiebreak — every row with equal timestamp
    gets the identical frame in both engines (a ROWS frame here would
    be nondeterministic under ties and ungradable). The ordering key is
    exact integer microseconds (`unix_micros` / `epoch_us` — the r1
    session-gap lesson), and the frame sum takes the decimal path.
    One shuffle on user_id; Spark evaluates the running frame with a
    sliding two-pointer pass per partition, O(n) not O(n·frame).
    """
    ev = _events_finite(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count("*").over(w).alias("n_prev_hour"),
        ddbl(F.round(F.sum(F.col("value").cast("decimal(25,6)")).over(w), 2), 2)
        .alias("value_prev_hour"),
    )


@query(
    "window_running_distinct_users",
    oracle="""
    WITH fu AS (
        SELECT event_type, user_id, min(CAST(ts AS DATE)) AS first_day
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ), daily AS (
        SELECT event_type, first_day AS day, count(*) AS new_users
        FROM fu GROUP BY 1, 2
    )
    SELECT event_type, day, new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day)
               AS BIGINT) AS cum_distinct_users
    FROM daily
    """,
)
def window_running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running DISTINCT count over time — cumulative unique users per
    event type by day. Neither Spark nor most engines support
    count(DISTINCT) as a window function, and the naive emulation
    (size(collect_set()) over an unbounded frame) carries the whole
    set in per-row window state. The scalable identity: a user is NEW
    exactly once — on their first-seen day — so cumulative distinct =
    running sum of first-appearance counts. That turns unbounded
    set-state into two hash aggregations plus a running sum over the
    tiny (type, day) grid.

    Shuffles: groupBy(type, user) → groupBy(type, day) — second is a
    subset-key repartition of the first; the window runs over ~types ×
    days rows, negligible at any scale. All integer counts; date
    ordering is total per partition (one row per day).
    """
    # ts IS NOT NULL at entry (r12): a (type, user) pair whose every
    # event is timestampless yields a NULL first_day whose ORDER BY
    # placement the engines disagree on (the watermark contract)
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    fu = ev.groupBy("event_type", "user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = fu.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.withColumn("cum_distinct_users", F.sum("new_users").over(w))


@query(
    "revenue_mom_growth",
    oracle=f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month,
           {sql_d53s("round(rev, 2)", 2)} AS revenue,
           round({sql_d53s("rev", 6)}
                 / {sql_d53s("lag(rev) OVER (ORDER BY month)", 6)}
                 - 1, 4) AS mom_growth
    FROM m
    """,
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: the KPI-dashboard staple —
    exact monthly revenue, then the lagged ratio. The division is
    unavoidable here (growth IS a ratio), so both engines divide
    IDENTICAL doubles: the decimal month sums are exact, and the
    decimal→double hop goes through VARCHAR on the DuckDB side because
    its direct decimal→double cast double-rounds (raw/10^scale) while
    Spark's BigDecimal.doubleValue rounds correctly — the
    agg_stats_moments finding. round(4) then has ~1e-12 of headroom.
    First month's growth is NULL (lag over nothing) in both engines.

    Plan: one hash-agg to the ~monthly grain, then a window over that
    tiny frame (single partition over dozens of rows — fine; the
    fact-table stage is the only one that scales).
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev"))
    # r13 (plan-lint R9): monthly revenue's unscaled decimal crosses
    # 2^53 at scale — both legs of the ratio convert through the d53s
    # split (replacing the oracle's decimal->VARCHAR->double hop; d53s
    # makes the conversion engine-independent by construction).
    rev_d = F.expr(d53s("rev", 6))
    prev_d = F.expr(d53s("lag(rev) OVER (ORDER BY month)", 6))
    return m.select(
        "month",
        F.expr(d53s("round(rev, 2)", 2)).alias("revenue"),
        F.round(rev_d / prev_d - 1, 4).alias("mom_growth"),
    )


@query(
    "topk_orders_with_ties",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_orderpriority
                            ORDER BY round(o_totalprice, 2) DESC) AS rk
        FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           round(o_totalprice, 2) AS totalprice, rk
    FROM r WHERE rk <= 3
    """,
)
def topk_orders_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-3 WITH ties — rank() instead of row_number(), so
    equal-priced orders at the cut all survive (the SQL:2003 "WITH
    TIES" semantics). This is the gradable form of top-k when the sort
    key is not unique: row_number would pick an arbitrary survivor
    among ties and hash-mismatch between engines; rank keeps every
    tied row, making the result set a pure function of the data.

    The rank bound is a LITERAL (the WindowGroupLimit lesson): Spark
    pushes a per-partition group limit below the shuffle, so each map
    task ships only its local top candidates, not the whole partition.
    Price is rounded before ranking in BOTH engines so a last-bit
    double difference can't reorder the leaderboard.
    """
    o = load(spark, sf_dir, "orders")
    price = F.round("o_totalprice", 2)
    w = Window.partitionBy("o_orderpriority").orderBy(price.desc())
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            price.alias("totalprice"),
            F.rank().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@query(
    "revenue_max_drawdown",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), tracked AS (
        SELECT month, rev,
               max(rev) OVER (ORDER BY month) AS peak
        FROM daily
    )
    SELECT ((CAST(CAST((CAST(CAST(round(max(peak - rev), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(max(peak - rev), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(max(peak - rev), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS max_drawdown,
           ((CAST(CAST((CAST(CAST(round(max(peak), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(max(peak), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(max(peak), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS peak_revenue,
           min(month) FILTER (WHERE peak - rev = (SELECT max(peak - rev) FROM tracked))
               AS worst_month
    FROM tracked
    """,
)
def revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of monthly revenue — the largest peak-to-
    trough fall, plus the (earliest) month it bottomed: the risk
    metric every finance/capacity dashboard tracks, and a compound
    window shape the simpler running aggregates don't cover (a running
    MAX feeding a global MAX of a difference). Everything stays in
    exact decimals — peak, trough, and their difference — so the
    argmin month is bit-determined; only the final reporting columns
    round to doubles.

    Plan: fact-table scan → monthly hash-agg (the only scaling
    stage) → running max over the tiny month grid → one final
    aggregate. The oracle's scalar subquery re-reads a 80-row CTE;
    Spark computes the same with a window max over the whole frame —
    both trivial at the month grain.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    daily = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev"))
    w = Window.orderBy("month")
    tracked = daily.withColumn("peak", F.max("rev").over(w)).withColumn(
        "dd", F.col("peak") - F.col("rev")
    )
    w_all = Window.partitionBy()
    flagged = tracked.withColumn("max_dd", F.max("dd").over(w_all))
    # r13 (plan-lint R9): monthly revenue peaks/drawdowns grow with
    # scale — the d53s split replaces the bare wide-decimal casts.
    return flagged.agg(
        ddbl(F.round(F.max("dd"), 2), 2).alias("max_drawdown"),
        ddbl(F.round(F.max("peak"), 2), 2).alias("peak_revenue"),
        F.min(F.when(F.col("dd") == F.col("max_dd"), F.col("month"))).alias(
            "worst_month"
        ),
    )


@query(
    "cusum_change_detection",
    oracle=f"""
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               sum(CAST(o_totalprice AS DECIMAL(25,6))) AS rev
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ), t AS (
        SELECT CAST(quantile_cont({sql_d53s("rev", 6)}, 0.5)
                    AS DECIMAL(25,6)) AS target
        FROM m
    ), s AS (
        SELECT m.month,
               sum(m.rev - t.target) OVER (ORDER BY m.month) AS cusum
        FROM m CROSS JOIN t
    ), peak AS (
        SELECT month, cusum, max(abs(cusum)) OVER () AS max_abs
        FROM s
    )
    SELECT min(month) FILTER (WHERE abs(cusum) = max_abs) AS change_month,
           {sql_d53s("round(any_value(max_abs), 2)", 2)} AS max_abs_cusum,
           count(*) AS n_months
    FROM peak
    """,
)
def cusum_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on the monthly revenue series: the
    cumulative sum of deviations from the series median drifts near
    zero while the level is stable and ramps when it shifts — the
    month where |CUSUM| peaks is the classic change-point estimate
    (the monitoring primitive behind "when did this metric actually
    move", one level deeper than the PSI drift alarm's yes/no).

    Cross-engine exactness end to end: monthly sums are decimals; the
    median target is an interpolated double (binary-safe) — with the
    DuckDB decimal→double VARCHAR hop — cast back to DECIMAL so every
    deviation and the running sum stay exact; the argmax month falls
    out of exact-decimal equality, no float compare anywhere near the
    answer. Plan: fact-scan → month hash-agg (the only scaling
    stage) → 1-row target broadcast → running sum over the ~80-row
    grid → final aggregate.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    m = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(25,6)")).alias("rev"))
    # r13 (plan-lint R9): monthly revenue's unscaled decimal crosses
    # 2^53 at scale — the median's double input and the final report
    # convert through the d53s split (replacing the oracle's VARCHAR
    # hop, which d53s makes engine-independent by construction).
    t = m.agg(
        F.percentile(F.expr(d53s("rev", 6)), F.lit(0.5))
        .cast("decimal(25,6)")
        .alias("target")
    )
    w = Window.orderBy("month")
    s = m.crossJoin(F.broadcast(t)).withColumn(
        "cusum", F.sum(F.col("rev") - F.col("target")).over(w)
    )
    w_all = Window.partitionBy()
    peak = s.withColumn("max_abs", F.max(F.abs("cusum")).over(w_all))
    return peak.agg(
        F.min(
            F.when(F.abs(F.col("cusum")) == F.col("max_abs"), F.col("month"))
        ).alias("change_month"),
        F.expr(d53s("round(any_value(max_abs), 2)", 2)).alias("max_abs_cusum"),
        F.count("*").alias("n_months"),
    )


@query(
    "window_cume_dist_purchases",
    oracle="""
    SELECT event_id,
           round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6)
               AS value_cume_dist
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
    """,
)
def window_cume_dist_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cume_dist — the empirical CDF position of every purchase value
    within its event type: the normalized "what fraction of purchases
    are at or below this one" feature that feeds percentile-based
    alerting and monotone model calibration. Like RANGE frames (and
    unlike row_number/ntile), cume_dist is PEER-INCLUSIVE: all rows
    tied on the ORDER BY value receive the identical result, so no
    tiebreak column is needed for cross-engine determinism — the
    output is a pure function of the value multiset. The ratio is
    exact-integer count / count, rounded well above ulp noise. One
    shuffle on the partition key.
    """
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value")
    return ev.select(
        "event_id", F.round(F.cume_dist().over(w), 6).alias("value_cume_dist")
    )


@query(
    "topk_distinct_prices_dense_rank",
    oracle="""
    WITH px AS (
        SELECT o_orderpriority, round(o_totalprice, 2) AS price,
               count(*) AS n_at_price
        FROM orders GROUP BY 1, 2
    ), r AS (
        SELECT o_orderpriority, price, n_at_price,
               dense_rank() OVER (PARTITION BY o_orderpriority
                                  ORDER BY price DESC) AS dr
        FROM px
    )
    SELECT o_orderpriority, price, n_at_price, dr
    FROM r WHERE dr <= 3
    """,
)
def topk_distinct_prices_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 DISTINCT price points per priority — dense_rank over a
    pre-aggregated (group, value) frame, completing the ranking-
    function triple: row_number picks arbitrary tie survivors
    (ungradable on non-unique keys), rank keeps ties but skips
    positions after them, dense_rank numbers distinct VALUES — the
    right tool for "the 3 highest price points" as opposed to "the 3
    highest-priced orders". Aggregating to distinct values BEFORE
    ranking means the window runs over the collapsed frame, not the
    fact table — the same pre-shrink discipline as the running-
    distinct query. All compares are on pre-rounded values.
    """
    o = load(spark, sf_dir, "orders")
    px = o.groupBy(
        "o_orderpriority", F.round("o_totalprice", 2).alias("price")
    ).agg(F.count("*").alias("n_at_price"))
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("price"))
    return px.withColumn("dr", F.dense_rank().over(w)).filter(F.col("dr") <= 3)


@query(
    "datetime_timezone_suite",
    oracle="""
    WITH zoned AS (
        SELECT z.tz,
               date_part('hour',
                   CAST(ts AT TIME ZONE 'UTC' AT TIME ZONE z.tz AS TIMESTAMP))
                   AS local_hour
        FROM events,
             (VALUES ('America/New_York'), ('Asia/Tokyo'), ('Europe/Berlin'))
                 AS z(tz)
    )
    SELECT tz, CAST(local_hour AS BIGINT) AS local_hour,
           count(*) AS n_events
    FROM zoned GROUP BY 1, 2
    """,
)
def datetime_timezone_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-correct local-hour bucketing: every event's UTC instant
    converted to three civil timezones and counted per local hour —
    the 'what hour was it for the user' histogram that naive
    fixed-offset arithmetic gets wrong. Spark resolves zone rules from
    the JVM tzdb, DuckDB from ICU — agreement across independent tz
    databases is the check, not an arithmetic identity. Honest scope
    note: the events table spans only January (one month), so each
    zone is exercised in a single fixed-offset regime (EST / JST /
    CET) — tzdb OFFSET agreement is graded; a DST-transition
    disambiguation row is NOT in the data and is therefore not
    claimed.

    Scale shape: from_utc_timestamp is a map-side scalar (zone rules
    resolve executor-side, no lookup join); the 3x fan-out is an
    inline VALUES dimension; one hash-agg at (tz, hour) grain — 72
    output groups regardless of input size.
    """
    ev = load(spark, sf_dir, "events").select("ts")
    zones = spark.createDataFrame(
        [("America/New_York",), ("Asia/Tokyo",), ("Europe/Berlin",)], "tz STRING"
    )
    return (
        ev.crossJoin(F.broadcast(zones))
        .select(
            "tz",
            F.hour(F.from_utc_timestamp(F.col("ts"), F.col("tz")))
            .cast("bigint")
            .alias("local_hour"),
        )
        .groupBy("tz", "local_hour")
        .agg(F.count("*").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# Round-5 session-2: classic financial time-series rollups (the kdb/
# TimescaleDB staples a pricing warehouse runs hourly).
# ---------------------------------------------------------------------------


@query(
    "ohlc_monthly_orders",
    oracle="""
    WITH r AS (
        SELECT date_trunc('month', o_orderdate) AS month, o_totalprice AS price,
               row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
                                  ORDER BY o_orderdate, o_orderkey) AS rn_a,
               row_number() OVER (PARTITION BY date_trunc('month', o_orderdate)
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_d
        FROM orders WHERE o_orderdate IS NOT NULL
    )
    SELECT strftime(month, '%Y-%m') AS month,
           max(CASE WHEN rn_a = 1 THEN price END) AS open,
           max(price) AS high,
           min(price) AS low,
           max(CASE WHEN rn_d = 1 THEN price END) AS close,
           count(*) AS volume,
           ((CAST(CAST((CAST(CAST(round(sum(CAST(price AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CAST(price AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CAST(price AS DECIMAL(25,6))), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS turnover
    FROM r GROUP BY month
    """,
)
def ohlc_monthly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup: per month, the opening price (first
    order by (date, orderkey) — the unique tiebreak that makes the
    pick gradable), high, low, closing price (last by the same total
    order), volume, and exact-decimal turnover. The candlestick is THE
    downsampling operator of every market/pricing time series.

    Spark side uses `min_by`/`max_by` over a struct sort key — single
    hash aggregate, one shuffle on the month, no window pass at all
    (the oracle's two row_number windows are the spec, not the plan).
    At 100 TB this is partial-aggregatable: min_by/max_by partials
    merge associatively, so the candle builds map-side like any
    sum/count. high/low/open/close are raw untouched doubles —
    identical parquet bits in both engines; only turnover aggregates,
    through the decimal-exact dsum device.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    key = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        o.groupBy(order_month().alias("month"))
        .agg(
            F.min_by("o_totalprice", key).alias("open"),
            F.max("o_totalprice").alias("high"),
            F.min("o_totalprice").alias("low"),
            F.max_by("o_totalprice", key).alias("close"),
            F.count("*").alias("volume"),
            dsum(F.col("o_totalprice")).alias("turnover"),
        )
    )


@query(
    "twap_purchase_value_per_user",
    oracle="""
    WITH p AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), seg AS (
        SELECT user_id, cents,
               (lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                - us) // 1000 AS dur_ms
        FROM p
    ), agg AS (
        SELECT user_id,
               count(*) AS n_segments,
               CAST(sum(dur_ms) AS BIGINT) AS total_ms,
               CAST(sum(cents * dur_ms) AS BIGINT) AS w
        FROM seg WHERE dur_ms IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_segments, total_ms,
           CAST((2 * w + total_ms) // (2 * total_ms) AS BIGINT) AS twap_cents
    FROM agg WHERE total_ms > 0
    """,
)
def twap_purchase_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average purchase value per user (TimescaleDB
    `time_weight`, kdb `twap`): each purchase's value holds until the
    user's next purchase, and the average weighs by that holding
    duration — the unbiased summary of an irregularly-sampled
    piecewise-constant signal, where a plain AVG over-counts burst
    periods.

    Exactness contract: value → exact cents (decimal(25,2) cast, the
    repo's money device), durations → whole milliseconds by integer
    division of the microsecond gap (the SPEC truncates sub-ms gaps to
    weight zero), weighted sum ≤ 49k cents × ~2.6e9 ms ≈ 1.3e14 —
    everything BIGINT, and the final mean is the half-up integer
    division formula ((2W+D) DIV 2D), so NO float or decimal division
    crosses the engine boundary anywhere. One window (lead over the
    user partition) + one hash aggregate = one shuffle on user_id at
    any scale; users with a single purchase (no held interval) drop
    out by spec.
    """
    p = (
        load(spark, sf_dir, "events")
        # null-ts device (r11): a purchase with no time holds no interval
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("us"),
            exact_cents(F.col("value")).alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seg = (
        p.withColumn("next_us", F.lead("us").over(w))
        .filter(F.col("next_us").isNotNull())
        .withColumn("dur_ms", F.expr("(next_us - us) DIV 1000"))
    )
    agg = seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.sum("dur_ms").alias("total_ms"),
        F.sum(F.col("cents") * F.col("dur_ms")).alias("w"),
    )
    return agg.filter(F.col("total_ms") > 0).select(
        "user_id",
        "n_segments",
        "total_ms",
        F.expr("CAST((2 * w + total_ms) DIV (2 * total_ms) AS BIGINT)").alias(
            "twap_cents"
        ),
    )


@query(
    "inventory_clamped_running_balance",
    oracle="""
    WITH moves AS (
        SELECT l_partkey, l_orderkey, l_linenumber,
               epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS sd,
               CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
                    ELSE -CAST(l_quantity AS BIGINT) END AS delta
        FROM lineitem
    ), pre AS (
        SELECT l_partkey, l_orderkey, l_linenumber, sd, delta,
               CAST(sum(delta) OVER (PARTITION BY l_partkey
                                     ORDER BY sd, l_orderkey, l_linenumber
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
        FROM moves
    ), ref AS (
        SELECT l_partkey, delta, prefix,
               CAST(min(prefix) OVER (PARTITION BY l_partkey
                                      ORDER BY sd, l_orderkey, l_linenumber
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS runmin,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY sd DESC, l_orderkey DESC,
                                           l_linenumber DESC) AS rn_d
        FROM pre
    ), bal AS (
        SELECT l_partkey, delta, rn_d,
               prefix - CASE WHEN runmin < 0 THEN runmin ELSE 0 END AS balance
        FROM ref
    )
    SELECT l_partkey AS partkey,
           count(*) AS n_moves,
           CAST(max(balance) AS BIGINT) AS peak_balance,
           CAST(max(CASE WHEN rn_d = 1 THEN balance END) AS BIGINT) AS end_balance,
           CAST(sum(CASE WHEN balance = 0 AND delta < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stockouts
    FROM bal GROUP BY 1
    """,
)
def inventory_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped (floor-at-zero) running balance — inventory semantics:
    returns ('R') restock a part, shipments deplete it, and the level
    can never go negative. The recurrence b_t = max(0, b_{t-1} + x_t)
    looks inherently sequential, but the Skorokhod reflection identity

        b_t = prefix_t - min(0, min_{s<=t} prefix_s)

    turns it into TWO ordinary cumulative windows over the same
    (shipdate, orderkey, linenumber) sort — so the whole fold runs as
    one shuffle+sort per part key with no per-row state machine, and
    the identical formula is the oracle's spec. (The sequential-fold
    equivalence is independently pinned against a Python simulation in
    tests/test_r5_ops.py.) Output per part: movement count, peak and
    final level, and stockout count (a depletion that hit the floor).

    100 TB: both windows and the final aggregate share one partitioning
    on l_partkey; quantities are exact BIGINTs; no window is global.
    """
    moves = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.unix_micros(F.col("l_shipdate")).alias("sd"),
        F.when(F.col("l_returnflag") == "R", F.col("l_quantity").cast("long"))
        .otherwise(-F.col("l_quantity").cast("long"))
        .alias("delta"),
    )
    w = (
        Window.partitionBy("l_partkey")
        .orderBy("sd", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_desc = Window.partitionBy("l_partkey").orderBy(
        F.desc("sd"), F.desc("l_orderkey"), F.desc("l_linenumber")
    )
    pre = moves.withColumn("prefix", F.sum("delta").over(w))
    ref = pre.withColumn("runmin", F.min("prefix").over(w)).withColumn(
        "rn_d", F.row_number().over(w_desc)
    )
    bal = ref.withColumn(
        "balance",
        F.col("prefix") - F.least(F.lit(0).cast("long"), F.col("runmin")),
    )
    return bal.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.count("*").alias("n_moves"),
        F.max("balance").alias("peak_balance"),
        F.max(F.when(F.col("rn_d") == 1, F.col("balance"))).alias("end_balance"),
        F.sum(
            F.when((F.col("balance") == 0) & (F.col("delta") < 0), 1).otherwise(0)
        ).alias("n_stockouts"),
    )


@query(
    "rolling_active_users_7d",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ), days AS (
        SELECT DISTINCT day FROM ud
    ), contrib AS (
        SELECT u.user_id, u.day + CAST(g.i AS INTEGER) AS day
        FROM ud u, unnest(generate_series(0, 6)) AS g(i)
    ), wau AS (
        SELECT c.day, count(DISTINCT c.user_id) AS wau
        FROM contrib c JOIN days d ON c.day = d.day
        GROUP BY c.day
    ), dau AS (
        SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY day
    )
    SELECT w.day AS day, w.wau, d.dau,
           CAST((2 * 10000 * d.dau + w.wau) // (2 * w.wau) AS BIGINT)
               AS stickiness_bp
    FROM wau w JOIN dau d ON w.day = d.day
    """,
)
def rolling_active_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window distinct actives — the DAU/WAU/stickiness
    board metric: for each observed day, distinct users active in the
    trailing 7 days, that day's distinct actives, and DAU/WAU in
    half-up basis points. Distinct is NOT additive, so no partial-sum
    window works; the exact distributed form CONTRIBUTES each
    (user, day) activity to the 7 trailing report days (a bounded
    explode — the mirror image of 'look back 7 days' is 'project
    forward 7 days') and distinct-counts per report day: one explode
    x7 on the deduplicated user-day grain, one count-distinct
    shuffle. The oracle says the same thing with generate_series.

    100 TB: the explode multiplies the (user, day) grain — already
    collapsed from raw events — by the constant window length; the
    count-distinct is the standard two-phase expansion. Days outside
    the observed grid are clipped by the inner join (the report grid =
    observed days, as dashboards do).
    """
    ev = load(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).distinct()
    contrib = ud.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "day"
    ).select("user_id", F.date_add("day", F.col("i")).alias("day"))
    days = ud.select("day").distinct()
    wau = (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (
        wau.join(dau, "day")
        .select(
            "day",
            "wau",
            "dau",
            F.expr(
                "CAST((2 * 10000 * dau + wau) DIV (2 * wau) AS BIGINT)"
            ).alias("stickiness_bp"),
        )
    )


@query(
    "fifo_cogs_matching",
    oracle="""
    WITH recv AS (
        SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
               CAST((2 * CAST(CAST(l_extendedprice AS DECIMAL(25,2))
                              * 1000000 AS BIGINT)
                     + CAST(l_quantity AS BIGINT))
                    // (2 * CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS unit_micro,
               sum(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS rcum
        FROM lineitem WHERE l_returnflag = 'R'
    ), ship AS (
        SELECT l_partkey, l_orderkey, l_linenumber,
               CAST(l_quantity AS BIGINT) AS qty,
               sum(CAST(l_quantity AS BIGINT))
                   OVER (PARTITION BY l_partkey
                         ORDER BY l_shipdate, l_orderkey, l_linenumber
                         ROWS UNBOUNDED PRECEDING) AS scum
        FROM lineitem WHERE l_returnflag <> 'R'
    ), m AS (
        SELECT s.l_partkey, s.l_orderkey, s.l_linenumber, s.qty,
               CASE WHEN r.rcum < s.scum THEN r.rcum ELSE s.scum END
               - CASE WHEN r.rcum - r.qty > s.scum - s.qty
                      THEN r.rcum - r.qty ELSE s.scum - s.qty END AS matched,
               r.unit_micro
        FROM ship s JOIN recv r
          ON r.l_partkey = s.l_partkey
         AND r.rcum - r.qty < s.scum
         AND s.scum - s.qty < r.rcum
    )
    SELECT l_partkey AS partkey, l_orderkey AS orderkey,
           l_linenumber AS linenumber,
           CAST(min(qty) AS BIGINT) AS ship_qty,
           CAST(sum(matched) AS BIGINT) AS matched_qty,
           count(*) AS n_layers,
           CAST(sum(matched * unit_micro) AS BIGINT) AS cogs_micro
    FROM m GROUP BY 1, 2, 3
    """,
)
def fifo_cogs_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO cost-of-goods matching — every warehouse's inventory
    valuation rule, and SQL's classic 'needs a cursor' problem: each
    shipment consumes the OLDEST unconsumed receipt layers of its
    part, and its cost is the consumed quantity priced per layer.
    This is the PERIOD-END (positional) FIFO convention — the layer
    book is the period's receipts in date order and shipments consume
    it in date order; a temporal-availability variant (no consuming
    stock that hasn't arrived) is a backorder SIMULATION, inherently
    sequential, and out of this operator's spec. The
    set-based identity that kills the cursor: on each part's FIFO
    axis, receipt i owns cumulative units [rcum−qty, rcum) and
    shipment j consumes [scum−qty, scum); FIFO matches are EXACTLY the
    interval overlaps — so the whole matching is two cumulative
    windows and ONE interval-overlap join per part, all in integer
    units (the sequential consume-loop equivalence is independently
    pinned in tests). Shipments beyond total receipts simply match
    short (matched_qty < ship_qty = the shortage report).

    Exactness: quantities are integral doubles → BIGINT; the layer's
    unit price is exact money (decimal cents) scaled to micro units
    and divided by quantity with the half-up INTEGER formula — a
    double division cast to decimal is NOT engine-safe (Spark rounds
    the shortest string repr, DuckDB the true binary; observed 5-micro
    drift) — so COGS is pure integer. 100 TB: both windows and the join share the l_partkey
    partitioning (one shuffle each side); per-part layer counts bound
    the join fan-out, and a cum-bucket band key bounds it further on
    deep histories.
    """
    li = load(spark, sf_dir, "lineitem")
    order_cols = [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")]

    def cum(df):
        w = (
            Window.partitionBy("l_partkey")
            .orderBy(*order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return df.withColumn("cumq", F.sum("qty").over(w))

    recv = cum(
        li.filter(F.col("l_returnflag") == "R").select(
            "l_partkey",
            *[c for c in ("l_shipdate", "l_orderkey", "l_linenumber")],
            F.col("l_quantity").cast("long").alias("qty"),
            F.expr(
                "CAST((2 * CAST(CAST(l_extendedprice AS DECIMAL(25,2))"
                " * 1000000 AS BIGINT) + CAST(l_quantity AS BIGINT))"
                " DIV (2 * CAST(l_quantity AS BIGINT)) AS BIGINT)"
            ).alias("unit_micro"),
        )
    ).select(
        F.col("l_partkey").alias("r_part"),
        F.col("qty").alias("r_qty"),
        "unit_micro",
        F.col("cumq").alias("rcum"),
    )
    ship = cum(
        li.filter(F.col("l_returnflag") != "R").select(
            "l_partkey",
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("long").alias("qty"),
        )
    ).select(
        F.col("l_partkey").alias("partkey"),
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("qty").alias("s_qty"),
        F.col("cumq").alias("scum"),
    )
    m = ship.join(
        recv,
        (F.col("r_part") == F.col("partkey"))
        & (F.col("rcum") - F.col("r_qty") < F.col("scum"))
        & (F.col("scum") - F.col("s_qty") < F.col("rcum")),
    ).withColumn(
        "matched",
        F.least(F.col("rcum"), F.col("scum"))
        - F.greatest(F.col("rcum") - F.col("r_qty"), F.col("scum") - F.col("s_qty")),
    )
    return m.groupBy("partkey", "orderkey", "linenumber").agg(
        F.min("s_qty").cast("long").alias("ship_qty"),
        F.sum("matched").cast("long").alias("matched_qty"),
        F.count("*").alias("n_layers"),
        F.sum(F.col("matched") * F.col("unit_micro")).cast("long").alias("cogs_micro"),
    )


@query(
    "window_distribution_ranks",
    oracle="""
    WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER w AS rn,
               ntile(4) OVER w AS price_quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey % 16
                     ORDER BY o_totalprice DESC, o_orderkey ASC)
    )
    SELECT o_custkey % 16 AS bucket, o_orderkey, o_totalprice,
           price_quartile, round(pct_rank, 6) AS pct_rank,
           round(cume, 6) AS cume
    FROM r WHERE rn <= 20
    """,
)
def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distribution-rank window family the suite was missing:
    ntile(4) (equal-count quartile assignment), percent_rank
    ((rank-1)/(n-1)) and cume_dist (rows ≤ current / total) over a
    per-bucket price ordering — the trio behind 'which quartile is
    this order in' dashboards and equal-frequency binning. All three
    are rank-arithmetic on small exact integers, so the doubles are
    IEEE-identical cross-engine (rounded at 6dp only to normalize
    repr); the ORDER BY carries o_orderkey as a total tiebreak, which
    is what makes ntile/percent_rank DETERMINISTIC — without it,
    equal-price rows could legally swap quartiles between runs.

    Top-20 per bucket keeps the graded output bounded; the window
    itself computes over the full partition (rank denominators see
    every row). One shuffle on the 16-way bucket key, all four
    functions share the single sort.
    """
    w = Window.partitionBy(F.expr("o_custkey % 16")).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            (F.col("o_custkey") % 16).alias("bucket"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.ntile(4).over(w).alias("price_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


_EWMA_H = 16  # re-anchoring horizon: weights below 2^-15 collapse into the tail


def _sql_ewma_terms(v: str, part: str, order: str) -> str:
    """SQL fragment: the scaled dyadic EWMA dot product as 16 lag terms.

    Emitted as literal SQL so the SAME algebra runs on DuckDB; the
    Spark side builds the identical expression through the DataFrame
    API. ``m`` must be in scope as least(row_number, 16)."""
    terms = []
    for k in range(_EWMA_H):
        w = (
            f"(CASE WHEN {k} > m - 1 THEN 0 "
            f"WHEN {k} = m - 1 THEN 1 "
            f"ELSE (CAST(1 AS BIGINT) << (m - 2 - {k})) END)"
        )
        terms.append(
            f"COALESCE(lag({v}, {k}) OVER "
            f"(PARTITION BY {part} ORDER BY {order}), 0) * {w}"
        )
    return " + ".join(terms)


@query(
    "window_ewma_dyadic_smoothing",
    oracle=f"""
    WITH series AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    idx AS (
        SELECT priority, month, cents,
               least(CAST(row_number() OVER (PARTITION BY priority
                                             ORDER BY month) AS BIGINT),
                     {_EWMA_H}) AS m
        FROM series
    ),
    dot AS (
        SELECT priority, month, m,
               CAST(round(CAST(cents AS DOUBLE) / 100, 2) AS DOUBLE)
                   AS revenue,
               {_sql_ewma_terms("cents", "priority", "month")} AS s
        FROM idx
    )
    SELECT priority, month, revenue,
           CAST(s AS DOUBLE)
               / (CAST(1 AS BIGINT) << (m - 1)) / 100 AS ewma_revenue
    FROM dot
    """,
)
def window_ewma_dyadic_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average over the monthly revenue
    series per order priority — the canonical "inherently sequential"
    smoothing recurrence s_i = alpha*v_i + (1-alpha)*s_{i-1}, made
    distributed AND cross-engine bit-exact.

    Device: with alpha = 1/2 every weight is a power of two, so the
    recurrence unrolls into a dyadic dot product over the trailing
    window — v_i gets 2^-1, v_{i-1} 2^-2, ..., and beyond horizon
    H=16 the residual tail weight (2^-15) re-anchors on the oldest
    in-window value (the standard truncated-EWMA approximation, error
    bounded by 2^-15 of the series range, here below output precision).
    Scaled by 2^(m-1) the whole sum is BIGINT on exact cents —
    associative, partition-order-free — and the final unscaling is two
    IEEE-exact operations (exponent shift, then one /100 on identical
    doubles), so the smoothed series hash-matches DuckDB bit-for-bit.

    Scale: the recurrence never runs sequentially — each row is a
    16-term lag combination inside ONE window pass (Catalyst fuses all
    16 lags over the same (priority, month) sort into a single
    WindowExec), and partitioning is per-series so a 100 TB fact table
    with millions of series parallelizes freely after its month-grain
    rollup.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()).select("o_orderpriority", "o_orderdate", "o_totalprice")
    series = order_cents_rollup(
        o,
        [F.col("o_orderpriority").alias("priority"), order_month().alias("month")],
        "cents",
    )
    w = Window.partitionBy("priority").orderBy("month")
    idx = series.withColumn(
        "m", F.least(F.row_number().over(w).cast("bigint"), F.lit(_EWMA_H))
    )
    s = None
    for k in range(_EWMA_H):
        wk = (
            F.when(F.lit(k) > F.col("m") - 1, F.lit(0).cast("bigint"))
            .when(F.lit(k) == F.col("m") - 1, F.lit(1).cast("bigint"))
            .otherwise(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(m - 2 - {k} AS INT))"))
        )
        term = F.coalesce(F.lag("cents", k).over(w), F.lit(0)) * wk
        s = term if s is None else s + term
    dot = idx.withColumn("s", s)
    return dot.select(
        "priority",
        "month",
        F.round(F.col("cents").cast("double") / 100, 2).cast("double").alias("revenue"),
        (
            F.col("s").cast("double")
            / F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m - 1 AS INT))").cast("double")
            / F.lit(100.0)
        ).alias("ewma_revenue"),
    )


@query(
    "impute_linear_interpolation",
    oracle="""
    WITH masked AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS t,
               CASE WHEN event_id % 7 = 3 THEN NULL
                    ELSE CAST(CAST(value AS DECIMAL(25,2)) * 100 AS BIGINT)
               END AS v
        FROM events WHERE value IS NOT NULL AND isfinite(value)
          AND ts IS NOT NULL
    ),
    bounds AS (
        SELECT user_id, event_id, t, v,
               last_value(CASE WHEN v IS NOT NULL
                               THEN struct_pack(pt := t, pv := v) END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev,
               first_value(CASE WHEN v IS NOT NULL
                                THEN struct_pack(pt := t, pv := v) END
                           IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY t, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS nxt
        FROM masked
    )
    SELECT user_id, event_id,
           CASE
             WHEN v IS NOT NULL THEN v
             WHEN prev IS NULL AND nxt IS NULL THEN NULL
             WHEN prev IS NULL THEN nxt.pv
             WHEN nxt IS NULL THEN prev.pv
             ELSE (2 * (prev.pv * (nxt.pt - t) + nxt.pv * (t - prev.pt))
                   + (nxt.pt - prev.pt)) // (2 * (nxt.pt - prev.pt))
           END AS v_cents,
           CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_imputed
    FROM bounds
    """,
)
def impute_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of missing values per user
    series — the numeric-gap repair beyond LOCF (resample_gap_filled
    carries; this INTERPOLATES, which is what sensor/price series
    want). A deterministic 1-in-7 mask (event_id%7==3) plays the
    missing values so the repair is fully graded: interior gaps get
    the time-weighted blend of their bracketing observations, leading
    gaps backfill, trailing gaps carry forward.

    Exactness: timestamps are integer microseconds and values integer
    cents, so the interpolant (vp*(tn-t) + vn*(t-tp))/(tn-tp) is one
    exact rational — half-up integer division, no float. The
    bracketing observations come from last_value/first_value IGNORE
    NULLS over (user, time) — both directions share ONE sort (Spark
    computes the backward frame on the same partitioning), so the
    repair costs a single exchange.
    """
    from leadsight_sales_agent_spark.functions.numeric import is_finite

    masked = (
        load(spark, sf_dir, "events")
        # null-ts device (r11): no timeline position, nothing to bracket
        .filter(is_finite(F.col("value")) & F.col("ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.unix_micros("ts").alias("t"),
            F.when(F.col("event_id") % 7 == 3, F.lit(None).cast("long")).otherwise(
                exact_cents(F.col("value"))
            ).alias("v"),
        )
    )
    obs = F.when(
        F.col("v").isNotNull(), F.struct(F.col("t").alias("pt"), F.col("v").alias("pv"))
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wnext = (
        Window.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    bounds = masked.select(
        "user_id",
        "event_id",
        "t",
        "v",
        F.last(obs, ignorenulls=True).over(wprev).alias("prev"),
        F.first(obs, ignorenulls=True).over(wnext).alias("nxt"),
    )
    interp = F.expr(
        "(2 * (prev.pv * (nxt.pt - t) + nxt.pv * (t - prev.pt))"
        " + (nxt.pt - prev.pt)) DIV (2 * (nxt.pt - prev.pt))"
    )
    return bounds.select(
        "user_id",
        "event_id",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev").isNull() & F.col("nxt").isNull(), F.lit(None).cast("long"))
        .when(F.col("prev").isNull(), F.col("nxt.pv"))
        .when(F.col("nxt").isNull(), F.col("prev.pv"))
        .otherwise(interp)
        .alias("v_cents"),
        F.when(F.col("v").isNull(), 1).otherwise(0).alias("was_imputed"),
    )


@query(
    "window_rolling_correlation",
    oracle=f"""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS rev,
               count(*) AS n_orders
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    roll AS (
        SELECT month,
               count(*)        OVER w AS n,
               sum(rev)        OVER w AS sx,
               sum(n_orders)   OVER w AS sy,
               sum(CAST(rev AS HUGEINT) * rev)  OVER w AS sxx,
               sum(CAST(n_orders AS HUGEINT) * n_orders) OVER w AS syy,
               sum(CAST(rev AS HUGEINT) * n_orders) OVER w AS sxy
        FROM m
        WINDOW w AS (ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
    )
    SELECT month, CAST(n AS BIGINT) AS n_months,
           round((CAST(n AS DOUBLE) * {sql_d53("sxy")} - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * {sql_d53("sxx")}
                         - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * {sql_d53("syy")}
                           - CAST(sy AS DOUBLE) * sy)),
                 6) AS corr_12m
    FROM roll WHERE n = 12
    """,
)
def window_rolling_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 12-month Pearson correlation between monthly revenue
    and monthly order count — the co-movement monitor behind "is
    growth price-driven or volume-driven this year" (correlation near
    1: volume-driven; drifting down: ticket size is doing the work).
    Extends agg_corr_price_quantity (static, per-group) with the
    windowed form every metrics page needs.

    Exactness: all five sufficient statistics (Σx, Σy, Σx², Σy², Σxy)
    are EXACT integer window sums over cents x counts (the squared
    sums ride DECIMAL(38,0) — cents² overflows BIGINT — mirroring
    DuckDB's automatic HUGEINT widening); the Pearson
    formula is then one fixed IEEE tree on identical doubles (+,-,*,
    /, sqrt — correctly rounded), rounded at 6dp (the corr-rounding
    precedent). Incomplete leading windows are gated out (n = 12).

    Plan: six window aggregates share ONE frame spec over the month
    grain — Catalyst evaluates them in a single WindowExec pass;
    the fact table contributes one rollup.
    """
    m = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [order_month().alias("month")],
        "rev",
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy("month").rowsBetween(-11, 0)
    roll = m.select(
        "month",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rev").over(w).alias("sx"),
        F.sum("n_orders").over(w).alias("sy"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).over(w).alias(
            "sxx"
        ),
        F.sum(F.col("n_orders").cast("decimal(38,0)") * F.col("n_orders"))
        .over(w)
        .alias("syy"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("n_orders"))
        .over(w)
        .alias("sxy"),
    )
    nd = F.col("n").cast("double")
    # r13 (plan-lint R9): the squared window sums (cents^2 grain) are
    # DECIMAL(38,0) far past 2^53 — d53 split; sx/sy are BIGINT.
    return roll.filter(F.col("n") == 12).select(
        "month",
        F.col("n").cast("bigint").alias("n_months"),
        F.round(
            (nd * F.expr(d53("sxy")) - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(nd * F.expr(d53("sxx")) - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(nd * F.expr(d53("syy")) - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("corr_12m"),
    )


@query(
    "forecast_croston_intermittent",
    oracle=f"""
    WITH monthly AS (
        SELECT l_partkey AS part,
               CAST(date_part('year', l_shipdate) * 12
                    + date_part('month', l_shipdate) AS BIGINT) AS midx,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
        FROM lineitem
        GROUP BY 1, 2
    ),
    occ AS (
        SELECT part, midx, z,
               CAST(row_number() OVER (PARTITION BY part ORDER BY midx)
                    AS BIGINT) AS j,
               coalesce(midx - lag(midx) OVER (PARTITION BY part ORDER BY midx),
                        1) AS x
        FROM monthly WHERE z > 0
    ),
    idx AS (
        SELECT part, midx, z, x, j, least(j, {_EWMA_H}) AS m
        FROM occ
    ),
    dot AS (
        SELECT part, j, m,
               {_sql_ewma_terms("z", "part", "j")} AS sz,
               {_sql_ewma_terms("x", "part", "j")} AS sx
        FROM idx
    ),
    last_state AS (
        SELECT part, j AS n_occasions, sz, sx,
               row_number() OVER (PARTITION BY part ORDER BY j DESC) AS rn
        FROM dot
    )
    SELECT part, n_occasions, sz, sx,
           CAST((2 * 10000 * sz + sx) // (2 * sx) AS BIGINT)
               AS demand_rate_bp
    FROM last_state WHERE rn = 1
    """,
)
def forecast_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand: per part, separate
    EWMAs of nonzero demand SIZES and of the INTERVALS between demand
    occasions; the per-period forecast is their ratio — the standard
    spare-parts/slow-mover forecaster where ordinary smoothing
    systematically overshoots right after each demand spike. First
    interval convention: x_1 = 1 (no prior occasion).

    Exactness by composition: both smoothers REUSE the dyadic-EWMA
    device (alpha = 1/2, 16-term re-anchoring unroll —
    window_ewma_dyadic_smoothing), so each state is an exact
    BIGINT-scaled dyadic Sz/2^(m-1); at a shared occasion index the
    two scales CANCEL, making the Croston ratio the exact rational
    Sz/Sx — reported in half-up basis points (quantity units per
    month x 10000). No float anywhere.

    Plan: fact rollup to (part, month), occasion indexing and all 32
    lag terms in ONE window pass per sequence over the same
    (part, j) sort — two WindowExec on one exchange; last-state
    selection is a per-part rank on the occasion grain. Millions of
    parts parallelize freely: state is per-part-bounded.
    """
    monthly = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("midx"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("z"))
        .filter(F.col("z") > 0)
    )
    wp = Window.partitionBy("part").orderBy("midx")
    occ = monthly.select(
        "part",
        "midx",
        "z",
        F.row_number().over(wp).cast("bigint").alias("j"),
        F.coalesce(
            F.col("midx") - F.lag("midx").over(wp), F.lit(1)
        ).alias("x"),
    )
    idx = occ.withColumn("m", F.least(F.col("j"), F.lit(_EWMA_H)))
    wj = Window.partitionBy("part").orderBy("j")
    sums = {}
    for col in ("z", "x"):
        s = None
        for k in range(_EWMA_H):
            wk = (
                F.when(F.lit(k) > F.col("m") - 1, F.lit(0).cast("bigint"))
                .when(F.lit(k) == F.col("m") - 1, F.lit(1).cast("bigint"))
                .otherwise(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(m - 2 - {k} AS INT))")
                )
            )
            term = F.coalesce(F.lag(col, k).over(wj), F.lit(0)) * wk
            s = term if s is None else s + term
        sums[col] = s
    dot = idx.select(
        "part",
        "j",
        "m",
        sums["z"].alias("sz"),
        sums["x"].alias("sx"),
    )
    last_state = dot.select(
        "part",
        F.col("j").alias("n_occasions"),
        "sz",
        "sx",
        F.row_number()
        .over(Window.partitionBy("part").orderBy(F.desc("j")))
        .alias("rn"),
    )
    return last_state.filter(F.col("rn") == 1).select(
        "part",
        "n_occasions",
        "sz",
        "sx",
        F.expr("CAST((2 * 10000 * sz + sx) DIV (2 * sx) AS BIGINT)").alias(
            "demand_rate_bp"
        ),
    )


@query(
    "date_business_day_fiscal_suite",
    oracle="""
    WITH j AS (
        SELECT o.o_orderpriority AS priority,
               o.o_orderdate AS d0, l.l_shipdate AS d1
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    bd AS (
        SELECT priority,
               (5 * (date_diff('day', TIMESTAMP '1990-01-01', d1) // 7)
                + least(date_diff('day', TIMESTAMP '1990-01-01', d1) % 7 + 1, 5))
             - (5 * (date_diff('day', TIMESTAMP '1990-01-01', d0) // 7)
                + least(date_diff('day', TIMESTAMP '1990-01-01', d0) % 7 + 1, 5))
                   AS bdays,
               CAST(date_part('year', d1) AS BIGINT)
                 + CASE WHEN date_part('month', d1) >= 7 THEN 1 ELSE 0 END
                   AS fiscal_year,
               (CAST(date_part('month', d1) AS BIGINT) + 5) % 12 // 3 + 1
                   AS fiscal_quarter
        FROM j
    )
    SELECT priority, fiscal_year, fiscal_quarter,
           bdays // 5 AS delay_weeks,
           count(*) AS n_lines,
           CAST(min(bdays) AS BIGINT) AS min_bdays,
           CAST(max(bdays) AS BIGINT) AS max_bdays
    FROM bd
    GROUP BY 1, 2, 3, 4
    """,
)
def date_business_day_fiscal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day arithmetic + fiscal calendar mapping — the two
    calendar quirks every ops/finance report needs and no engine
    builtin provides. Business days between order and ship date come
    from a CLOSED-FORM cumulative count (anchor on a known Monday BEFORE all data (1990-01-01 — negative day
    indices would hit the float-floor vs integer-trunc divergence),
    B(d) = 5·⌊e/7⌋ + min(e mod 7 + 1, 5), delay = B(ship) −
    B(order)) — pure integer arithmetic, no per-day explode, no
    calendar table join, identical text in both engines (the ISO
    day-numbering pinning from the seasonality heatmap). Fiscal
    periods use a July-start year (FY = CY + 1 from July, Q1 =
    Jul-Sep), again pure month arithmetic.

    Scale: entirely map-side until the final bounded rollup
    (priority x FY x quarter x delay-week) — the closed form is why:
    a generate_series-per-row calendar expansion would be a 250x row
    multiplier at 100 TB.
    """
    j = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .join(
            load(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderdate", "o_orderpriority"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderdate").alias("d0"),
            F.col("l_shipdate").alias("d1"),
        )
    )

    def bdays_upto(d):
        e = F.datediff(d, F.lit("1990-01-01").cast("timestamp"))
        return F.lit(5) * F.floor(e / 7) + F.least(e % 7 + 1, F.lit(5))

    bd = j.select(
        "priority",
        (bdays_upto(F.col("d1")) - bdays_upto(F.col("d0"))).alias("bdays"),
        (
            F.year("d1").cast("bigint")
            + F.when(F.month("d1") >= 7, 1).otherwise(0)
        ).alias("fiscal_year"),
        F.expr("(CAST(month(d1) AS BIGINT) + 5) % 12 DIV 3 + 1").alias(
            "fiscal_quarter"
        ),
    )
    return bd.groupBy(
        "priority",
        "fiscal_year",
        "fiscal_quarter",
        F.expr("bdays DIV 5").alias("delay_weeks"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min("bdays").cast("bigint").alias("min_bdays"),
        F.max("bdays").cast("bigint").alias("max_bdays"),
    )


@query(
    "trending_parts_decayed",
    oracle="""
    WITH m AS (
        SELECT l_partkey AS part,
               CAST(date_part('year', l_shipdate) * 12
                    + date_part('month', l_shipdate) AS BIGINT) AS midx,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ),
    anchor AS (SELECT max(midx) AS mx FROM m),
    decayed AS (
        SELECT part,
               sum(CASE WHEN a.mx - midx <= 15
                        THEN q * (CAST(1 AS BIGINT) << (15 - (a.mx - midx)))
                        ELSE 0 END) AS score,
               CAST(sum(CASE WHEN a.mx - midx <= 15 THEN q ELSE 0 END)
                    AS BIGINT) AS recent_qty,
               CAST(sum(q) AS BIGINT) AS total_qty
        FROM m CROSS JOIN anchor a
        GROUP BY 1
    )
    SELECT part, CAST(score AS BIGINT) AS score, recent_qty, total_qty,
           CAST(row_number() OVER (ORDER BY score DESC, part ASC) AS BIGINT)
               AS rank
    FROM decayed
    QUALIFY row_number() OVER (ORDER BY score DESC, part ASC) <= 20
    """,
)
def trending_parts_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending items by exponentially-decayed demand: each month's
    quantity weighs 2^-age (half-life = one month) over a trailing
    16-month horizon, top-20 parts by decayed score — the freshness-
    weighted popularity ranking behind every "trending now" module,
    where a raw total would let a stale blockbuster park at #1
    forever.

    Exactness: the dyadic half-life makes every weight a power of
    two, so the score is the exact BIGINT Σ q·2^(15−age) (the EWMA
    re-anchoring device applied to a ranking); the anchor month is
    data-derived (max month) via a 1-row broadcast. Ranking
    tie-breaks on the part key — total order, top-20 by literal rank.
    """
    m = (
        load(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.year("l_shipdate") * 12 + F.month("l_shipdate"))
            .cast("bigint")
            .alias("midx"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("q"))
    )
    anchor = m.agg(F.max("midx").alias("mx"))
    decayed = (
        m.crossJoin(F.broadcast(anchor))
        .groupBy("part")
        .agg(
            F.sum(
                F.when(
                    F.col("mx") - F.col("midx") <= 15,
                    F.col("q")
                    * F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        " CAST(15 - (mx - midx) AS INT))"
                    ),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("score"),
            F.sum(
                F.when(F.col("mx") - F.col("midx") <= 15, F.col("q")).otherwise(0)
            )
            .cast("bigint")
            .alias("recent_qty"),
            F.sum("q").cast("bigint").alias("total_qty"),
        )
    )
    ranked = decayed.select(
        "part",
        "score",
        "recent_qty",
        "total_qty",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc("part")))
        .cast("bigint")
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= 20)


@query(
    "temporal_coalesce_pack",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                    IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS brk
        FROM events WHERE ts IS NOT NULL
    ),
    runs AS (
        SELECT user_id, event_type, ts, event_id,
               sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_id
        FROM seq
    )
    SELECT user_id, event_type,
           CAST(run_id AS BIGINT) AS run_id,
           min(ts) AS valid_from, max(ts) AS valid_to,
           count(*) AS run_length
    FROM runs
    GROUP BY 1, 2, 3
    HAVING count(*) >= 2
    """,
)
def temporal_coalesce_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal coalescing (the SQL:2011 "PACK" operation): collapse
    CONSECUTIVE rows with the same state into one validity interval —
    the compression step that turns an event-grain change log into a
    compact SCD table (10 consecutive 'view' events become one
    [from, to] row). Runs are identified by the lag-break + running-
    sum island device on (ts, event_id) order; IS DISTINCT FROM makes
    the break NULL-safe. Only multi-row runs are reported (the rows
    the pack actually compresses).

    One (user_id) exchange shared by the break window, the island
    cumsum, and the final per-run aggregate. The compression ratio
    (input rows vs output rows) is exactly what a state-history table
    saves at 100 TB.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # null-ts device (r11): an interval needs a timestamp on both ends
    seq = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull()).select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        )
        .otherwise(0)
        .alias("brk"),
    )
    runs = seq.withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        runs.groupBy("user_id", "event_type", F.col("run_id").cast("bigint").alias("run_id"))
        .agg(
            F.min("ts").alias("valid_from"),
            F.max("ts").alias("valid_to"),
            F.count(F.lit(1)).alias("run_length"),
        )
        .filter(F.col("run_length") >= 2)
    )


@query(
    "streak_revenue_growth",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    flagged AS (
        SELECT priority, month, cents,
               CASE WHEN cents > lag(cents) OVER
                        (PARTITION BY priority ORDER BY month)
                    THEN 1 ELSE 0 END AS up
        FROM m
    ),
    islands AS (
        SELECT priority, month, up,
               sum(1 - up) OVER (PARTITION BY priority ORDER BY month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
        FROM flagged
    ),
    runs AS (
        SELECT priority, grp,
               CAST(sum(up) AS BIGINT) AS run_len,
               max(month) AS run_end
        FROM islands GROUP BY 1, 2
    )
    SELECT priority,
           CAST(max(run_len) AS BIGINT) AS longest_growth_streak,
           max(CASE WHEN run_len = mx THEN run_end END) AS a_streak_end
    FROM (SELECT *, max(run_len) OVER (PARTITION BY priority) AS mx FROM runs) t
    GROUP BY 1
    """,
)
def streak_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive month-over-month revenue GROWTH streak per
    priority — the momentum statistic behind "N straight months of
    growth" headlines, and the gaps-and-islands device applied to a
    monotone CONDITION instead of calendar adjacency: a non-growth
    month breaks the run (sum of breaks numbers the islands), the
    streak length is the island's count of up-months. Reported with
    the latest month a maximal streak ended (ties resolved by max —
    deterministic).

    All windows and the final rollup share the (priority) month-grain
    partitioning — the series is calendar-bounded, one fact rollup
    feeds it.
    """
    m = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [F.col("o_orderpriority").alias("priority"), order_month().alias("month")],
        "cents",
    )
    w = Window.partitionBy("priority").orderBy("month")
    flagged = m.select(
        "priority",
        "month",
        F.when(F.col("cents") > F.lag("cents").over(w), 1).otherwise(0).alias("up"),
    )
    islands = flagged.withColumn(
        "grp",
        F.sum(F.lit(1) - F.col("up")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    runs = islands.groupBy("priority", "grp").agg(
        F.sum("up").cast("bigint").alias("run_len"),
        F.max("month").alias("run_end"),
    )
    with_max = runs.withColumn(
        "mx", F.max("run_len").over(Window.partitionBy("priority"))
    )
    return with_max.groupBy("priority").agg(
        F.max("run_len").cast("bigint").alias("longest_growth_streak"),
        F.max(
            F.when(F.col("run_len") == F.col("mx"), F.col("run_end"))
        ).alias("a_streak_end"),
    )


# Sliding-window Holt linear smoothing, exactly unrolled: with alpha =
# beta = 1/2 the coupled recurrence l_t = (v_t + l + b)/2, b_t = v_t/4 −
# l/4 + 3b/4 over a 16-observation window (init l = v_{t-15}, b = 0)
# collapses into literal dyadic coefficient tables (matrix powers of
# A = [[1/2,1/2],[−1/4,3/4]], common denominator 2^30) — derived and
# verified against the sequential recursion in tests/tools; see the
# generator snippet in the docstring of holt_linear_smoothing.
HOLT_DEN = 1 << 30
HOLT_L = (
    536870912, 402653184, 234881024, 92274688, -2097152, -48758784,
    -59899904, -50495488, -33169408, -16214016, -3682816, 3503488,
    6220768, 6024216, 4419886, 1211226,
)
HOLT_B = (
    268435456, 67108864, -50331648, -96468992, -95420416, -71041024,
    -41091072, -15843328, 741376, 8848384, 10689792, 8938048, 5827664,
    2815556, 605613, -3814273,
)


def _holt_sql_dot(coefs, part: str, order: str) -> str:
    terms = [
        f"CAST({c} AS DECIMAL(38,0)) * lag(cents, {k}) OVER "
        f"(PARTITION BY {part} ORDER BY {order})"
        if k
        else f"CAST({c} AS DECIMAL(38,0)) * cents"
        for k, c in enumerate(coefs)
    ]
    return " + ".join(terms)


def _unrolled_smoothing(
    series: DataFrame, period: str, den: int, tables, reports
) -> DataFrame:
    """An exactly unrolled dyadic smoothing recurrence over each
    priority's (period, cents) series, reported at the series' last
    period when it has at least 16. `tables` are (name, coefs) pairs:
    name = sum_k coefs[k] * lag(cents, k), exact DECIMAL(38,0) over
    denominator `den`; `reports` are (alias, expr over those names)
    pairs, each rounded to half-up cents with negative mirroring."""
    w = Window.partitionBy("priority").orderBy(period)
    idx = series.select(
        "priority",
        period,
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("priority")).alias("n"),
    )

    def dot(coefs):
        s = None
        for k, c in enumerate(coefs):
            v = F.col("cents") if k == 0 else F.lag("cents", k).over(w)
            term = F.lit(c).cast("decimal(38,0)") * v
            s = term if s is None else s + term
        return s

    dotted = idx.select(
        "priority", period, "i", "n", *[dot(c).alias(name) for name, c in tables]
    )
    final = dotted.filter((F.col("i") == F.col("n")) & (F.col("i") >= 16))

    def half_up(name_expr: str):
        # DIV (exact integral division) — decimal '/'+floor rounds the
        # intermediate quotient and can be off by one at boundaries
        col = F.expr(name_expr)
        pos = F.expr(f"(2 * ({name_expr}) + {den}) DIV {2 * den}")
        neg = -F.expr(f"(2 * (-({name_expr})) + {den}) DIV {2 * den}")
        return F.when(col >= 0, pos).otherwise(neg).cast("bigint")

    return final.select(
        "priority",
        F.col(period).alias(f"asof_{period}"),
        *[half_up(e).alias(alias) for alias, e in reports],
    )


@query(
    "holt_linear_smoothing",
    oracle=f"""
    WITH series AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    idx AS (
        SELECT priority, month, cents,
               row_number() OVER (PARTITION BY priority ORDER BY month) AS i,
               count(*) OVER (PARTITION BY priority) AS n
        FROM series
    ),
    dotted AS (
        SELECT priority, month, i, n,
               {_holt_sql_dot(HOLT_L, "priority", "month")} AS lsc,
               {_holt_sql_dot(HOLT_B, "priority", "month")} AS bsc
        FROM idx
    ),
    final AS (
        SELECT priority, month, lsc, bsc
        FROM dotted WHERE i = n AND i >= 16
    )
    SELECT priority, month AS asof_month,
           CAST(CASE WHEN lsc >= 0
                THEN (2 * CAST(lsc AS HUGEINT) + {HOLT_DEN}) // {2 * HOLT_DEN}
                ELSE -((2 * CAST(-lsc AS HUGEINT) + {HOLT_DEN})
                       // {2 * HOLT_DEN}) END
                AS BIGINT) AS level_cents,
           CAST(CASE WHEN bsc >= 0
                THEN (2 * CAST(bsc AS HUGEINT) + {HOLT_DEN}) // {2 * HOLT_DEN}
                ELSE -((2 * CAST(-bsc AS HUGEINT) + {HOLT_DEN})
                       // {2 * HOLT_DEN}) END
                AS BIGINT) AS trend_cents,
           CAST(CASE WHEN lsc + bsc >= 0
                THEN (2 * CAST(lsc + bsc AS HUGEINT) + {HOLT_DEN})
                     // {2 * HOLT_DEN}
                ELSE -((2 * CAST(-(lsc + bsc) AS HUGEINT) + {HOLT_DEN})
                       // {2 * HOLT_DEN}) END
                AS BIGINT) AS forecast_next_cents
    FROM final
    """,
)
def holt_linear_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + trend) smoothing with alpha =
    beta = 1/2 over the trailing 16 months, per priority — the
    trend-aware upgrade of the EWMA, whose COUPLED recurrence is the
    textbook "inherently sequential" case. Device: the recurrence is
    the linear system s_t = A·s_{t-1} + c·v_t, so a fixed window
    unrolls into matrix powers of A — and with dyadic alpha/beta
    every power is exact with common denominator 2^30, giving
    LITERAL integer coefficient tables (HOLT_L/HOLT_B above; level
    weights provably sum to 1, trend weights to 0). The windowed dot
    product is then exact DECIMAL arithmetic — the sequential-fold
    equivalence is machine-verified (fractions-exact) and pinned in
    tests. Reported at each series' last month: level, trend, and
    the one-step forecast level+trend, half-up cents with negative
    mirroring (trend can be negative).

    Plan: one month-grain rollup; all 32 lag terms fuse into ONE
    WindowExec per series — the EWMA/Croston shape with a 2-state
    recurrence instead of 1.
    """
    series = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [F.col("o_orderpriority").alias("priority"), order_month().alias("month")],
        "cents",
    )
    return _unrolled_smoothing(
        series,
        "month",
        HOLT_DEN,
        [("lsc", HOLT_L), ("bsc", HOLT_B)],
        [
            ("level_cents", "lsc"),
            ("trend_cents", "bsc"),
            ("forecast_next_cents", "lsc + bsc"),
        ],
    )


# Holt-Winters TRIPLE smoothing (level + trend + additive seasonality),
# exactly unrolled: alpha = beta = gamma = 1/2, season length m = 4
# (annual cycle on the QUARTER grain), trailing window W = 16 quarters.
# Classic init from the first two seasons (l_4 = mean v1..4, b_4 =
# (mean v5..8 − mean v1..4)/4, s_i = v_i − l_4), then the coupled
# 6-state recurrence for t = 5..16. Every operation is dyadic-linear in
# the 16 window values, so the final level / trend / next-season-index /
# one-step forecast each collapse to a LITERAL integer coefficient
# table over common denominator 2^28 — derived with exact Fractions by
# the generator below and pinned table == sequential-recursion in
# tests/test_r6_ops.py. Identities: L sums to 1, B and S to 0, F to 1.
#
#   from fractions import Fraction as Fr
#   W, m = 16, 4
#   unit = lambda i: [Fr(k == i) for k in range(W)]
#   lin = lambda a, b, ca, cb: [x*ca + y*cb for x, y in zip(a, b)]
#   l = [sum(unit(i)[k] for i in range(4))/4 for k in range(W)]
#   b = lin([sum(unit(i)[k] for i in range(4,8))/4 for k in range(W)], l,
#           Fr(1,4), Fr(-1,4))
#   s = [None] + [lin(unit(i), l, Fr(1), Fr(-1)) for i in range(4)]
#   for t in range(5, W+1):
#       ln = lin(lin(unit(t-1), s[t-m], Fr(1,2), Fr(-1,2)),
#                lin(l, b, Fr(1,2), Fr(1,2)), Fr(1), Fr(1))
#       bn = lin(lin(ln, l, Fr(1,2), Fr(-1,2)), b, Fr(1), Fr(1,2))
#       s.append(lin(lin(unit(t-1), ln, Fr(1,2), Fr(-1,2)), s[t-m],
#                    Fr(1), Fr(1,2)))
#       l, b = ln, bn
#   # tables = [int(v[W-1-k] * 2**28) for k in range(W)] for each of
#   # l, b, s[W+1-m] (next period's index), and l+b+s[W+1-m]
HW_DEN = 1 << 28
HW_L = (
    134217728, 100663296, 58720256, 23068672, -34078720, -12189696,
    3899392, 9396224, -14434918, -1545318, 9820442, 15110906,
    -18595226, -19819418, -5331226, 19533062,
)
HW_B = (
    67108864, 16777216, -12582912, -24117248, -40632320, -9371648,
    3358720, 4427776, -11857313, 425823, 5805471, 5457647,
    -14619231, -7831391, 3418721, 14231825,
)
HW_S = (
    0, 0, 0, 67108864, -50331648, -29360128, -11534336, 50593792,
    -23255616, -20814400, -14649920, 30304704, 6478400, -16934336,
    -40924608, 53319232,
)
HW_F = (
    201326592, 117440512, 46137344, 66060288, -125042688, -50921472,
    -4276224, 64417792, -49547847, -21933895, 975993, 50873257,
    -26736057, -44585145, -42837113, 87084119,
)


def _hw_sql_half_up(expr: str) -> str:
    return f"""CAST(CASE WHEN {expr} >= 0
        THEN (2 * CAST({expr} AS HUGEINT) + {HW_DEN}) // {2 * HW_DEN}
        ELSE -((2 * CAST(-({expr}) AS HUGEINT) + {HW_DEN})
               // {2 * HW_DEN}) END AS BIGINT)"""


@query(
    "holt_winters_seasonal_smoothing",
    oracle=f"""
    WITH series AS (
        SELECT o_orderpriority AS priority,
               CAST(date_part('year', o_orderdate) AS VARCHAR) || '-Q'
                   || CAST(quarter(o_orderdate) AS VARCHAR) AS quarter,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    idx AS (
        SELECT priority, quarter, cents,
               row_number() OVER (PARTITION BY priority ORDER BY quarter) AS i,
               count(*) OVER (PARTITION BY priority) AS n
        FROM series
    ),
    dotted AS (
        SELECT priority, quarter, i, n,
               {_holt_sql_dot(HW_L, "priority", "quarter")} AS lsc,
               {_holt_sql_dot(HW_B, "priority", "quarter")} AS bsc,
               {_holt_sql_dot(HW_S, "priority", "quarter")} AS ssc,
               {_holt_sql_dot(HW_F, "priority", "quarter")} AS fsc
        FROM idx
    ),
    final AS (
        SELECT priority, quarter, lsc, bsc, ssc, fsc
        FROM dotted WHERE i = n AND i >= 16
    )
    SELECT priority, quarter AS asof_quarter,
           {_hw_sql_half_up("lsc")} AS level_cents,
           {_hw_sql_half_up("bsc")} AS trend_cents,
           {_hw_sql_half_up("ssc")} AS season_next_cents,
           {_hw_sql_half_up("fsc")} AS forecast_next_cents
    FROM final
    """,
)
def holt_winters_seasonal_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters TRIPLE exponential smoothing (level + trend +
    additive annual seasonality, alpha = beta = gamma = 1/2) over the
    trailing 16 quarters per priority — closing the declared thin spot
    above `holt_linear_smoothing`: the 6-dimensional coupled state
    (l, b, s_t..s_{t-3}) looked "too wide to unroll", but the same
    matrix-power device applies — the recurrence is linear, the window
    is fixed, and dyadic parameters keep every coefficient exact over
    denominator 2^28 (tables HW_L/HW_B/HW_S/HW_F above; generator in
    the comment, sequential-equivalence pinned in tests). Classic
    two-season initialization; reported at each series' last quarter:
    level, trend, next period's seasonal index, and the one-step
    forecast l + b + s_{t+1-m}, half-up cents with negative mirroring.

    Plan: one quarter-grain rollup, all 64 lag terms fuse into ONE
    WindowExec per series — identical shape to the Holt/EWMA family;
    the seasonal dimension costs nothing at runtime because it lives
    in the precomputed coefficients, not the plan.
    """
    series = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [
            F.col("o_orderpriority").alias("priority"),
            F.concat(
                F.year("o_orderdate").cast("string"),
                F.lit("-Q"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("quarter"),
        ],
        "cents",
    )
    return _unrolled_smoothing(
        series,
        "quarter",
        HW_DEN,
        [("lsc", HW_L), ("bsc", HW_B), ("ssc", HW_S), ("fsc", HW_F)],
        [
            ("level_cents", "lsc"),
            ("trend_cents", "bsc"),
            ("season_next_cents", "ssc"),
            ("forecast_next_cents", "fsc"),
        ],
    )


@query(
    "ops_error_budget_burn",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_events,
               CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                   AS n_errors
        FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    rolling AS (
        SELECT day, n_events, n_errors,
               sum(n_events) OVER w AS n7, sum(n_errors) OVER w AS e7,
               count(*) OVER w AS d7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT day, n_events, n_errors,
           CAST((2 * 10000 * n_errors + n_events) // (2 * n_events) AS BIGINT)
               AS day_error_bp,
           CAST((2 * 10000 * e7 + n7) // (2 * n7) AS BIGINT) AS rolling7_bp,
           CAST((2 * 100 * e7 + n7) // (2 * n7) AS BIGINT) AS burn_rate_x
    FROM rolling WHERE d7 = 7
    """,
)
def ops_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn: daily and 7-day-rolling error rates
    against a 1% (100 bp) budget, with the burn-rate MULTIPLE (how
    many budgets a week at this rate consumes — burn 1x = exactly on
    budget, 14x = the classic page-now threshold) — the SRE
    alerting arithmetic (multiwindow burn alerts), computed on the
    day grain with exact integer rates. burn_rate_x is the rolling
    error rate divided by the 100 bp budget = (10000·e/n)/100,
    half-up. Incomplete leading windows are gated (d7 = 7).

    One fact rollup to days, one frame for all three window sums.
    """
    daily = (
        load(spark, sf_dir, "events")
        # null-ts device (r11): a NULL day's place in the rolling
        # ORDER BY day frame is engine-divergent
        .filter(F.col("ts").isNotNull())
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_if(F.col("event_type") == "error")
            .cast("bigint")
            .alias("n_errors"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    rolling = daily.select(
        "day",
        "n_events",
        "n_errors",
        F.sum("n_events").over(w).alias("n7"),
        F.sum("n_errors").over(w).alias("e7"),
        F.count(F.lit(1)).over(w).alias("d7"),
    )
    return rolling.filter(F.col("d7") == 7).select(
        "day",
        "n_events",
        "n_errors",
        F.expr(
            "CAST((2 * 10000 * n_errors + n_events) DIV (2 * n_events) AS BIGINT)"
        ).alias("day_error_bp"),
        F.expr("CAST((2 * 10000 * e7 + n7) DIV (2 * n7) AS BIGINT)").alias(
            "rolling7_bp"
        ),
        F.expr("CAST((2 * 100 * e7 + n7) DIV (2 * n7) AS BIGINT)").alias(
            "burn_rate_x"
        ),
    )


@query(
    "window_zscore_rolling",
    oracle=f"""
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    roll AS (
        SELECT month, v,
               count(*) OVER w AS n,
               sum(v) OVER w AS s1,
               sum(CAST(v AS HUGEINT) * v) OVER w AS s2
        FROM m
        WINDOW w AS (ORDER BY month ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)
    )
    SELECT month, v AS revenue_cents,
           round((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(n AS DOUBLE) * {sql_d53("s2")}
                         - CAST(s1 AS DOUBLE) * s1)
                        / (CAST(n AS DOUBLE) * n)), 4) AS zscore,
           CASE WHEN abs((CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                 / sqrt((CAST(n AS DOUBLE) * {sql_d53("s2")}
                         - CAST(s1 AS DOUBLE) * s1)
                        / (CAST(n AS DOUBLE) * n))) > 2
                THEN 1 ELSE 0 END AS is_anomaly
    FROM roll WHERE n = 12
    """,
)
def window_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score monitoring: each month's revenue scored against
    the mean and population-σ of the TRAILING 12 months (current row
    excluded — a spike must not mask itself by inflating its own
    baseline), |z| > 2 flags — the ubiquitous dashboards-and-alerts
    statistic, with the sufficient-statistics exactness contract:
    Σv and Σv² are exact integer window sums, the z formula is one
    fixed IEEE tree (+,-,*,/ and sqrt), 4dp round. The leave-one-out
    frame (12 PRECEDING .. 1 PRECEDING) is the detail naive
    implementations get wrong.

    Complements the robust detectors (MAD, CUSUM, seasonal-adjusted):
    this is the cheap first-line z alarm.
    """
    m = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [order_month().alias("month")],
        "v",
    )
    w = Window.orderBy("month").rowsBetween(-12, -1)
    roll = m.select(
        "month",
        "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s1"),
        F.sum(F.col("v").cast("decimal(38,0)") * F.col("v")).over(w).alias("s2"),
    )
    nd = F.col("n").cast("double")
    # r13: the 12-month window Σv² (~3.8e20) is past 2^53 — d53 split,
    # not a bare wide-decimal cast.
    z = (F.col("v").cast("double") - F.col("s1").cast("double") / F.col("n")) / F.sqrt(
        (nd * F.expr(d53("s2")) - F.col("s1").cast("double") * F.col("s1"))
        / (nd * F.col("n"))
    )
    return roll.filter(F.col("n") == 12).select(
        "month",
        F.col("v").alias("revenue_cents"),
        F.round(z, 4).alias("zscore"),
        F.when(F.abs(z) > 2, 1).otherwise(0).alias("is_anomaly"),
    )


# Google SRE workbook multiwindow burn-rate policy for a 1% error SLO:
# page when burn > 14.4x over BOTH 1h and 5m; ticket when burn > 6x
# over BOTH 6h and 30m. burn > f <=> errors * 100 > f * total.


@query(
    "ops_multiwindow_burn_alerts",
    oracle="""
    WITH minutes AS (
        SELECT CAST(floor(epoch(ts)) AS BIGINT) // 60 AS m,
               count(*) AS n,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS e
        FROM events GROUP BY 1
    ),
    rolled AS (
        SELECT m,
               sum(n) OVER (ORDER BY m RANGE BETWEEN 59 PRECEDING
                            AND CURRENT ROW) AS n_1h,
               sum(e) OVER (ORDER BY m RANGE BETWEEN 59 PRECEDING
                            AND CURRENT ROW) AS e_1h,
               sum(n) OVER (ORDER BY m RANGE BETWEEN 4 PRECEDING
                            AND CURRENT ROW) AS n_5m,
               sum(e) OVER (ORDER BY m RANGE BETWEEN 4 PRECEDING
                            AND CURRENT ROW) AS e_5m,
               sum(n) OVER (ORDER BY m RANGE BETWEEN 359 PRECEDING
                            AND CURRENT ROW) AS n_6h,
               sum(e) OVER (ORDER BY m RANGE BETWEEN 359 PRECEDING
                            AND CURRENT ROW) AS e_6h,
               sum(n) OVER (ORDER BY m RANGE BETWEEN 29 PRECEDING
                            AND CURRENT ROW) AS n_30m,
               sum(e) OVER (ORDER BY m RANGE BETWEEN 29 PRECEDING
                            AND CURRENT ROW) AS e_30m
        FROM minutes
    ),
    alerts AS (
        SELECT m,
               CAST(CASE WHEN e_1h * 1000 > 144 * n_1h
                          AND e_5m * 1000 > 144 * n_5m
                         THEN 1 ELSE 0 END AS INTEGER) AS page,
               CAST(CASE WHEN e_6h * 100 > 6 * n_6h
                          AND e_30m * 100 > 6 * n_30m
                         THEN 1 ELSE 0 END AS INTEGER) AS ticket,
               e_1h, n_1h, e_5m, n_5m
        FROM rolled
    )
    SELECT m AS minute_idx, page, ticket,
           CAST(e_1h AS BIGINT) AS errors_1h,
           CAST(n_1h AS BIGINT) AS events_1h,
           CAST(e_5m AS BIGINT) AS errors_5m,
           CAST(n_5m AS BIGINT) AS events_5m
    FROM alerts WHERE page = 1 OR ticket = 1
    """,
)
def ops_multiwindow_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow, multi-burn-rate SLO alerting (the Google SRE
    workbook policy) over the event stream's error rate against a 1%
    SLO: PAGE when the error-budget burn exceeds 14.4x over BOTH the
    trailing hour and the trailing five minutes (the long window
    proves it matters, the short window proves it is still
    happening); TICKET when it exceeds 6x over both 6h and 30m. The
    graded rows are exactly the alert firings with their window
    evidence — what an on-call audit replays after an incident.

    Exactness: burn > f against a 1% SLO cross-multiplies to
    errors·1000 > 144·total (and errors·100 > 6·total) — integer
    compares only. The minute rollup is exact (floor(epoch) DIV 60 —
    the cross-engine epoch device), and all eight trailing windows are
    RANGE frames over the minute INDEX sharing ONE sort of the
    calendar-bounded minute grain (the window_range_interval_counts
    device; gaps in traffic are handled by RANGE, not ROWS). At scale
    the grain is minutes-of-history — bounded by time, not events.
    """
    minutes = (
        load(spark, sf_dir, "events")
        .groupBy(
            F.expr("CAST(unix_timestamp(ts) DIV 60 AS BIGINT)").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("e"),
        )
    )

    def trail(col: str, mins: int):
        return F.sum(col).over(
            Window.orderBy("m").rangeBetween(-(mins - 1), 0)
        )

    rolled = minutes.select(
        "m",
        trail("n", 60).alias("n_1h"),
        trail("e", 60).alias("e_1h"),
        trail("n", 5).alias("n_5m"),
        trail("e", 5).alias("e_5m"),
        trail("n", 360).alias("n_6h"),
        trail("e", 360).alias("e_6h"),
        trail("n", 30).alias("n_30m"),
        trail("e", 30).alias("e_30m"),
    )
    alerts = rolled.select(
        "m",
        F.expr(
            "CAST(CASE WHEN e_1h * 1000 > 144 * n_1h"
            " AND e_5m * 1000 > 144 * n_5m THEN 1 ELSE 0 END AS INT)"
        ).alias("page"),
        F.expr(
            "CAST(CASE WHEN e_6h * 100 > 6 * n_6h"
            " AND e_30m * 100 > 6 * n_30m THEN 1 ELSE 0 END AS INT)"
        ).alias("ticket"),
        "e_1h",
        "n_1h",
        "e_5m",
        "n_5m",
    )
    return alerts.filter((F.col("page") == 1) | (F.col("ticket") == 1)).select(
        F.col("m").alias("minute_idx"),
        "page",
        "ticket",
        F.col("e_1h").cast("bigint").alias("errors_1h"),
        F.col("n_1h").cast("bigint").alias("events_1h"),
        F.col("e_5m").cast("bigint").alias("errors_5m"),
        F.col("n_5m").cast("bigint").alias("events_5m"),
    )


TB_CAPACITY = 5  # token bucket burst capacity
TB_REFILL_S = 60  # one token per this many seconds


def _token_bucket_oracle() -> str:
    """Per-user token-bucket replay as a recursive CTE carrying the
    per-user epoch-seconds list (the (s,S)/DTW device with
    variable-length chains: each user's recursion stops at its own
    list length)."""
    return f"""
    WITH RECURSIVE ulists AS (
        SELECT user_id,
               list(CAST(floor(epoch(ts)) AS BIGINT)
                    ORDER BY ts, event_id) AS v
        FROM events GROUP BY 1
    ),
    sim AS (
        SELECT user_id, v, 0 AS i,
               CAST({TB_CAPACITY} AS BIGINT) AS tokens,
               v[1] AS t_last,
               CAST(0 AS BIGINT) AS adm, CAST(0 AS BIGINT) AS rej
        FROM ulists
        UNION ALL
        SELECT user_id, v, i + 1,
               CASE WHEN tok2 >= 1 THEN tok2 - 1 ELSE tok2 END,
               tl2,
               adm + CASE WHEN tok2 >= 1 THEN 1 ELSE 0 END,
               rej + CASE WHEN tok2 >= 1 THEN 0 ELSE 1 END
        FROM (
            SELECT user_id, v, i, adm, rej,
                   least(CAST({TB_CAPACITY} AS BIGINT),
                         tokens + (v[i + 1] - t_last) // {TB_REFILL_S})
                       AS tok2,
                   t_last + ((v[i + 1] - t_last) // {TB_REFILL_S})
                       * {TB_REFILL_S} AS tl2
            FROM sim WHERE i < len(v)
        )
    ),
    finals AS (
        SELECT user_id, adm, rej FROM sim WHERE i = len(v)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(adm) AS BIGINT) AS total_admitted,
           CAST(sum(rej) AS BIGINT) AS total_rejected,
           CAST(sum(CASE WHEN rej > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS users_throttled,
           CAST((2 * 10000 * sum(rej) + sum(adm) + sum(rej))
                // (2 * (sum(adm) + sum(rej))) AS BIGINT) AS rejected_bp
    FROM finals
    """


@query("ops_token_bucket_replay", oracle=_token_bucket_oracle())
def ops_token_bucket_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate-limiter replay over every user's event stream
    — the API-gateway admission audit: each user starts with
    {TB_CAPACITY} tokens, earns one per {TB_REFILL_S}s (whole tokens,
    remainder seconds carried — the standard integer bucket), spends
    one per admitted event, and events arriving to an empty bucket
    are rejected WITHOUT consuming (the feedback that makes the
    recursion genuinely sequential — rejected traffic doesn't slow the
    refill clock, so no prefix-sum shortcut exists; cf. the clamped
    walk of inventory_clamped_running_balance, which IS prefix-summable
    because every event lands). The graded row is the policy outcome:
    admitted/rejected totals, throttled-user count, rejection rate bp.

    Device: per-user sorted epoch arrays fold through ONE aggregate
    expression with a 4-slot integer state (tokens, refill clock,
    admitted, rejected) — the funnel sorted-array shuffle, the
    (s,S)/DTW fold; per-user chains are bounded by events-per-user,
    not the corpus. All integer arithmetic; the oracle replays
    variable-length recursions that stop at each user's own list end.
    """
    ulists = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id,"
                " CAST(unix_timestamp(ts) AS BIGINT) AS es))), x -> x.es)"
            ).alias("v")
        )
    )
    fold = f"""
    aggregate(
      sequence(1, size(v)),
      array(CAST({TB_CAPACITY} AS BIGINT), element_at(v, 1),
            CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      (st, i) -> array(
        CASE WHEN least(CAST({TB_CAPACITY} AS BIGINT),
                        st[0] + (element_at(v, CAST(i AS INT)) - st[1])
                               DIV {TB_REFILL_S}) >= 1
             THEN least(CAST({TB_CAPACITY} AS BIGINT),
                        st[0] + (element_at(v, CAST(i AS INT)) - st[1])
                               DIV {TB_REFILL_S}) - 1
             ELSE least(CAST({TB_CAPACITY} AS BIGINT),
                        st[0] + (element_at(v, CAST(i AS INT)) - st[1])
                               DIV {TB_REFILL_S}) END,
        st[1] + ((element_at(v, CAST(i AS INT)) - st[1]) DIV {TB_REFILL_S})
              * {TB_REFILL_S},
        st[2] + CASE WHEN least(CAST({TB_CAPACITY} AS BIGINT),
                        st[0] + (element_at(v, CAST(i AS INT)) - st[1])
                               DIV {TB_REFILL_S}) >= 1 THEN 1 ELSE 0 END,
        st[3] + CASE WHEN least(CAST({TB_CAPACITY} AS BIGINT),
                        st[0] + (element_at(v, CAST(i AS INT)) - st[1])
                               DIV {TB_REFILL_S}) >= 1 THEN 0 ELSE 1 END
      )
    )
    """
    finals = ulists.select(F.expr(fold).alias("st")).select(
        F.expr("st[2]").alias("adm"), F.expr("st[3]").alias("rej")
    )
    return finals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("adm").cast("bigint").alias("total_admitted"),
        F.sum("rej").cast("bigint").alias("total_rejected"),
        F.sum(F.when(F.col("rej") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("users_throttled"),
        F.expr(
            "CAST((2 * 10000 * sum(rej) + sum(adm) + sum(rej))"
            " DIV (2 * (sum(adm) + sum(rej))) AS BIGINT)"
        ).alias("rejected_bp"),
    )


CACHE_NEXT_SENTINEL = 1_000_000_000  # "never used again"
CACHE_EMPTY_NEXT = 2_000_000_000  # empty slots evict before any real item


def _cache_replay_oracle() -> str:
    """LRU and Belady cache replays as one recursive CTE carrying both
    policies' state columns (the token-bucket device with a 2-slot
    cache instead of a bucket)."""
    return f"""
    WITH RECURSIVE codes AS (
        SELECT event_type,
               row_number() OVER (ORDER BY event_type) AS code
        FROM (SELECT DISTINCT event_type FROM events)
    ),
    evs1 AS (
        SELECT e.user_id, e.ts, e.event_id, c.code,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn
        FROM events e JOIN codes c ON c.event_type = e.event_type
        WHERE e.ts IS NOT NULL
    ),
    evs2 AS (
        SELECT user_id, rn, code,
               coalesce(lead(rn) OVER (PARTITION BY user_id, code
                                       ORDER BY ts, event_id),
                        {CACHE_NEXT_SENTINEL}) AS nxt
        FROM evs1
    ),
    ulists AS (
        SELECT user_id,
               list(CAST(code AS BIGINT) ORDER BY rn) AS vi,
               list(CAST(nxt AS BIGINT) ORDER BY rn) AS vn
        FROM evs2 GROUP BY 1
    ),
    sim AS (
        SELECT user_id, vi, vn, 0 AS i,
               CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
               CAST(0 AS BIGINT) AS lh, CAST(0 AS BIGINT) AS lm,
               CAST(0 AS BIGINT) AS b1,
               CAST({CACHE_EMPTY_NEXT} AS BIGINT) AS n1,
               CAST(0 AS BIGINT) AS b2,
               CAST({CACHE_EMPTY_NEXT} AS BIGINT) AS n2,
               CAST(0 AS BIGINT) AS bh, CAST(0 AS BIGINT) AS bm
        FROM ulists
        UNION ALL
        SELECT user_id, vi, vn, i + 1,
               x,
               CASE WHEN x = s1 THEN s2 ELSE s1 END,
               lh + CASE WHEN x = s1 OR x = s2 THEN 1 ELSE 0 END,
               lm + CASE WHEN x = s1 OR x = s2 THEN 0 ELSE 1 END,
               x,
               nx,
               CASE WHEN x = b1 THEN b2 WHEN x = b2 THEN b1
                    WHEN n1 >= n2 THEN b2 ELSE b1 END,
               CASE WHEN x = b1 THEN n2 WHEN x = b2 THEN n1
                    WHEN n1 >= n2 THEN n2 ELSE n1 END,
               bh + CASE WHEN x = b1 OR x = b2 THEN 1 ELSE 0 END,
               bm + CASE WHEN x = b1 OR x = b2 THEN 0 ELSE 1 END
        FROM (
            SELECT user_id, vi, vn, i, s1, s2, lh, lm,
                   b1, n1, b2, n2, bh, bm,
                   vi[i + 1] AS x, vn[i + 1] AS nx
            FROM sim WHERE i < len(vi)
        )
    ),
    finals AS (
        SELECT user_id, lh, lm, bh, bm FROM sim WHERE i = len(vi)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(lh + lm) AS BIGINT) AS n_accesses,
           CAST(sum(lh) AS BIGINT) AS lru_hits,
           CAST(sum(bh) AS BIGINT) AS belady_hits,
           CAST((2 * 10000 * sum(lh) + sum(lh + lm))
                // (2 * sum(lh + lm)) AS BIGINT) AS lru_hit_bp,
           CAST((2 * 10000 * sum(bh) + sum(bh + bm))
                // (2 * sum(bh + bm)) AS BIGINT) AS belady_hit_bp,
           CAST((2 * 10000 * (sum(bh) - sum(lh)) + sum(lh + lm))
                // (2 * sum(lh + lm)) AS BIGINT) AS gap_bp
    FROM finals
    """


@query("ops_cache_belady_vs_lru", oracle=_cache_replay_oracle())
def ops_cache_belady_vs_lru(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cache-policy replay per user: a 2-slot cache over each user's
    event-type access sequence, LRU versus Belady's clairvoyant MIN —
    the canonical systems analysis (how much hit rate does the
    implementable policy leave on the table vs the offline optimum?).
    Belady needs each access's NEXT-USE position, which is a lead()
    window — the engine precomputes the future the optimal policy
    peeks at, which is exactly why MIN is offline-only.

    Device: the token-bucket sorted-array fold, twice per user — LRU
    state [mru, lru, hits, misses] (the MRU slot is always the
    just-accessed item, so s1' = x unconditionally); Belady state
    [item, next, item2, next2, hits, misses] where a miss evicts the
    LARGER stored next-use (empty slots carry next = 2e9 so they fill
    first; ties evict slot 1 — the same rule in both engines). All
    BIGINT; hit counts are exact; the oracle replays both policies in
    one variable-length recursive CTE.

    100 TB plan: one per-user shuffle builds the sorted (code, next)
    arrays (the funnel-fold shape); per-user chains are bounded by
    events-per-user. The code dim is a 5-row broadcast; the next-use
    lead shares the (user, code) partitioning. Invariant graded
    implicitly: belady_hits >= lru_hits (gap_bp >= 0).
    """
    evs = load(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    codes = (
        evs.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.row_number()
            .over(Window.orderBy("event_type"))
            .cast("bigint")
            .alias("code"),
        )
    )
    # null-ts device (r11): an access with no time has no position in
    # the replay order (codes still come from ALL events, as the oracle)
    evs1 = evs.filter(F.col("ts").isNotNull()).join(
        F.broadcast(codes), "event_type"
    ).select(
        "user_id",
        "ts",
        "event_id",
        "code",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .cast("bigint")
        .alias("rn"),
    )
    evs2 = evs1.select(
        "user_id",
        "rn",
        "code",
        F.coalesce(
            F.lead("rn").over(
                Window.partitionBy("user_id", "code").orderBy("ts", "event_id")
            ),
            F.lit(CACHE_NEXT_SENTINEL),
        )
        .cast("bigint")
        .alias("nxt"),
    )
    ulists = evs2.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rn, code, nxt))),"
            " x -> x.code)"
        ).alias("vi"),
        F.expr(
            "transform(array_sort(collect_list(struct(rn, code, nxt))),"
            " x -> x.nxt)"
        ).alias("vn"),
    )
    lru_fold = """
    aggregate(
      sequence(1, size(vi)),
      array(CAST(0 AS BIGINT), CAST(0 AS BIGINT),
            CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      (st, i) -> array(
        element_at(vi, CAST(i AS INT)),
        CASE WHEN element_at(vi, CAST(i AS INT)) = st[0]
             THEN st[1] ELSE st[0] END,
        st[2] + CASE WHEN element_at(vi, CAST(i AS INT)) = st[0]
                      OR element_at(vi, CAST(i AS INT)) = st[1]
                     THEN 1 ELSE 0 END,
        st[3] + CASE WHEN element_at(vi, CAST(i AS INT)) = st[0]
                      OR element_at(vi, CAST(i AS INT)) = st[1]
                     THEN 0 ELSE 1 END
      )
    )
    """
    belady_fold = f"""
    aggregate(
      sequence(1, size(vi)),
      array(CAST(0 AS BIGINT), CAST({CACHE_EMPTY_NEXT} AS BIGINT),
            CAST(0 AS BIGINT), CAST({CACHE_EMPTY_NEXT} AS BIGINT),
            CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
      (st, i) -> array(
        element_at(vi, CAST(i AS INT)),
        element_at(vn, CAST(i AS INT)),
        CASE WHEN element_at(vi, CAST(i AS INT)) = st[0] THEN st[2]
             WHEN element_at(vi, CAST(i AS INT)) = st[2] THEN st[0]
             WHEN st[1] >= st[3] THEN st[2] ELSE st[0] END,
        CASE WHEN element_at(vi, CAST(i AS INT)) = st[0] THEN st[3]
             WHEN element_at(vi, CAST(i AS INT)) = st[2] THEN st[1]
             WHEN st[1] >= st[3] THEN st[3] ELSE st[1] END,
        st[4] + CASE WHEN element_at(vi, CAST(i AS INT)) = st[0]
                      OR element_at(vi, CAST(i AS INT)) = st[2]
                     THEN 1 ELSE 0 END,
        st[5] + CASE WHEN element_at(vi, CAST(i AS INT)) = st[0]
                      OR element_at(vi, CAST(i AS INT)) = st[2]
                     THEN 0 ELSE 1 END
      )
    )
    """
    finals = ulists.select(
        F.expr(lru_fold).alias("ls"), F.expr(belady_fold).alias("bs")
    ).select(
        F.expr("ls[2]").alias("lh"),
        F.expr("ls[3]").alias("lm"),
        F.expr("bs[4]").alias("bh"),
        F.expr("bs[5]").alias("bm"),
    )
    return finals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("lh") + F.col("lm")).cast("bigint").alias("n_accesses"),
        F.sum("lh").cast("bigint").alias("lru_hits"),
        F.sum("bh").cast("bigint").alias("belady_hits"),
        F.expr(
            "CAST((2 * 10000 * sum(lh) + sum(lh + lm))"
            " DIV (2 * sum(lh + lm)) AS BIGINT)"
        ).alias("lru_hit_bp"),
        F.expr(
            "CAST((2 * 10000 * sum(bh) + sum(bh + bm))"
            " DIV (2 * sum(bh + bm)) AS BIGINT)"
        ).alias("belady_hit_bp"),
        F.expr(
            "CAST((2 * 10000 * (sum(bh) - sum(lh)) + sum(lh + lm))"
            " DIV (2 * sum(lh + lm)) AS BIGINT)"
        ).alias("gap_bp"),
    )


BB_WIN = 12  # trailing months in the band window
# Per-row Bollinger trees over exact integer frame sums (m +- 2 sigma).
# r13: the window Σv² (~3.8e20) is past 2^53 — d53 split per engine.
_BB_MID = "(CAST(s1 AS DOUBLE) / CAST(nw AS DOUBLE))"


def _bb_sd(cv) -> str:
    return (
        f"sqrt(({cv('s2')} - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(nw AS DOUBLE)) / (CAST(nw AS DOUBLE) - 1.0))"
    )


_BB_SD = _bb_sd(d53)
_BB_SD_SQL = _bb_sd(sql_d53)


@query(
    "window_bollinger_bands",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS v
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    ),
    framed AS (
        SELECT mon, v,
               sum(v) OVER w AS s1,
               CAST(sum(CAST(v AS HUGEINT) * v) OVER w AS DECIMAL(38,0))
                   AS s2,
               count(*) OVER w AS nw
        FROM monthly
        WINDOW w AS (ORDER BY mon
                     ROWS BETWEEN {BB_WIN - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT mon AS month_start, v AS revenue_cents,
           CAST(floor({_BB_MID} + 0.5) AS BIGINT) AS mid_cents,
           CAST(floor({_BB_MID} - 2.0 * {_BB_SD_SQL} + 0.5) AS BIGINT)
               AS lower_cents,
           CAST(floor({_BB_MID} + 2.0 * {_BB_SD_SQL} + 0.5) AS BIGINT)
               AS upper_cents,
           CAST(CASE WHEN CAST(v AS DOUBLE) > {_BB_MID} + 2.0 * {_BB_SD_SQL}
                     THEN 1
                     WHEN CAST(v AS DOUBLE) < {_BB_MID} - 2.0 * {_BB_SD_SQL}
                     THEN -1 ELSE 0 END AS INTEGER) AS band_breach
    FROM framed WHERE nw = {BB_WIN}
    ORDER BY mon
    """,
)
def window_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on monthly revenue: trailing {BB_WIN}-month mean
    ± 2 sample standard deviations, with a breach flag per month —
    the rolling volatility envelope behind 'is this month's revenue
    ANOMALOUSLY high, or just high?' (the windowed complement of
    outlier_zscore_orders' global z and cusum_change_detection's
    drift test). Months with an incomplete trailing window are
    excluded rather than reported on thin statistics.

    Exactness: the trailing frame's Σv (BIGINT) and Σv²
    (DECIMAL(38,0)/HUGEINT) are exact integer window sums; mid, the
    sd, and both bands are per-row shared-verbatim IEEE trees over
    scale-0 decimal -> double casts, floor-quantized; the breach flag
    compares identical doubles. 100 TB plan: month-grain map-side
    collapse, one ~84-row calendar-bounded ROWS window.
    """
    # F.trunc returns DATE (date_trunc returns TIMESTAMP — a type-class
    # mismatch against DuckDB's DATE when the month is an OUTPUT column)
    monthly = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .groupBy(F.trunc(F.col("o_orderdate"), "month").alias("mon"))
        .agg(
            F.sum(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("v")
        )
    )
    w = Window.orderBy("mon").rowsBetween(-(BB_WIN - 1), 0)
    framed = monthly.select(
        "mon",
        "v",
        F.sum("v").over(w).alias("s1"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v"))
        .over(w)
        .cast("decimal(38,0)")
        .alias("s2"),
        F.count(F.lit(1)).over(w).alias("nw"),
    ).filter(F.col("nw") == BB_WIN)
    return framed.select(
        F.col("mon").alias("month_start"),
        F.col("v").alias("revenue_cents"),
        F.expr(f"CAST(floor({_BB_MID} + 0.5) AS BIGINT)").alias("mid_cents"),
        F.expr(
            f"CAST(floor({_BB_MID} - 2.0 * {_BB_SD} + 0.5) AS BIGINT)"
        ).alias("lower_cents"),
        F.expr(
            f"CAST(floor({_BB_MID} + 2.0 * {_BB_SD} + 0.5) AS BIGINT)"
        ).alias("upper_cents"),
        F.expr(
            f"CAST(CASE WHEN CAST(v AS DOUBLE) > {_BB_MID} + 2.0 * {_BB_SD}"
            " THEN 1"
            f" WHEN CAST(v AS DOUBLE) < {_BB_MID} - 2.0 * {_BB_SD}"
            " THEN -1 ELSE 0 END AS INTEGER)"
        ).alias("band_breach"),
    ).orderBy("month_start")


# Parkinson trees over exact pre-rounded ln integers (e12 grain).
# r13: s = Σd12² runs ~3e27 (within d53's 2^103 headroom) — past 2^53,
# so it enters through the per-engine d53 split.
def _pk_sig(cv) -> str:
    return f"sqrt({cv('s')} / 1e24 / (CAST(n AS DOUBLE) * 4.0 * ln(2.0)))"


_PK_SIG = _pk_sig(d53)
_PK_SIG_SQL = _pk_sig(sql_d53)


@query(
    "window_parkinson_volatility",
    oracle=f"""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate) AS mon,
               CAST(max(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS h,
               CAST(min(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS l
        FROM orders GROUP BY 1
    ),
    lns AS (
        SELECT CAST(floor(ln(CAST(h AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)
                 - CAST(floor(ln(CAST(l AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)
                   AS d12
        FROM monthly
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(d12 AS HUGEINT) * d12) AS DECIMAL(38,0)) AS s
        FROM lns
    )
    SELECT n AS n_months,
           CAST(floor({_PK_SIG_SQL} * 1e6 + 0.5) AS BIGINT)
               AS sigma_parkinson_e6,
           CAST(floor({_PK_SIG_SQL} * sqrt(12.0) * 1e6 + 0.5) AS BIGINT)
               AS sigma_annualized_e6
    FROM agg
    """,
)
def window_parkinson_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson range-based volatility of monthly order values:
    sigma² = mean(ln(H/L)²)/(4·ln2) over each month's high-low range —
    the estimator that extracts ~5x more information per period than
    close-to-close returns by using the intraperiod EXTREMES (the
    reason OHLC bars exist; composes with ohlc_monthly_orders).
    Reported per-month and annualized (x sqrt(12)).

    Exactness: per-month ln(H) and ln(L) pre-round to exact e12
    integers (the playbook's scaled-ln device — a 1-ulp libm
    disagreement flips one l12 by 1, which moves sigma by ~1e-13,
    measure-zero at the e6 report grain; squaring the RAW double
    difference instead would flip the e12 floor ~8% of runs), their
    difference squares exactly in HUGEINT/DECIMAL, and sigma is one
    shared-verbatim IEEE tree over the exact sum.

    100 TB plan: month-grain min/max collapse (map-side partials),
    then an ~84-row reduce — the fact scan is everything.
    """
    monthly = (
        load(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("mon"))
        .agg(
            F.max(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("h"),
            F.min(exact_cents(F.col("o_totalprice")))
            .cast("bigint")
            .alias("l"),
        )
    )
    lns = monthly.select(
        (
            F.expr("CAST(floor(ln(CAST(h AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)")
            - F.expr("CAST(floor(ln(CAST(l AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)")
        ).alias("d12")
    )
    agg = lns.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(d12 AS DECIMAL(38,0)) * d12"))
        .cast("decimal(38,0)")
        .alias("s"),
    )
    return agg.select(
        F.col("n").alias("n_months"),
        F.expr(f"CAST(floor({_PK_SIG} * 1e6 + 0.5) AS BIGINT)").alias(
            "sigma_parkinson_e6"
        ),
        F.expr(
            f"CAST(floor({_PK_SIG} * sqrt(12.0) * 1e6 + 0.5) AS BIGINT)"
        ).alias("sigma_annualized_e6"),
    )


# --- LTTB downsampling ----------------------------------------------------
#
# Largest-Triangle-Three-Buckets over the 36-month series, threshold
# 12: endpoints always kept, the 10 interior buckets partition months
# 2..35 with exact integer boundaries, and each bucket keeps the point
# maximizing the triangle area against the PREVIOUS kept point and the
# NEXT bucket's average. The only rational (the average) cross-
# multiplies away: 2·Area·n² = |(n·xa−Sx)(n·yb−Sy) − (n·xb−Sx)(n·ya−Sy)|
# — all BIGINT, ties to the earliest month.
LTTB_N = 36
LTTB_T = 12
_LTTB_BUCKETS = [
    (2 + ((k - 1) * (LTTB_N - 2)) // (LTTB_T - 2),
     1 + (k * (LTTB_N - 2)) // (LTTB_T - 2))
    for k in range(1, LTTB_T - 1)
]  # inclusive (lo, hi) month ranges of the 10 interior buckets


def _lttb_oracle() -> str:
    parts = [f"""
    WITH months AS (
        SELECT unnest(generate_series(1, {LTTB_N})) AS t
    ), rev AS (
        SELECT (year(o_orderdate) - 1996) * 12 + month(o_orderdate) AS t,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS y
        FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        GROUP BY 1
    ), series AS (
        SELECT m.t, coalesce(r.y, 0) AS y FROM months m
        LEFT JOIN rev r ON r.t = m.t
    ),
    p0 AS (SELECT t AS xa, y AS ya FROM series WHERE t = 1)"""]
    for k, (lo, hi) in enumerate(_LTTB_BUCKETS, start=1):
        if k < len(_LTTB_BUCKETS):
            nlo, nhi = _LTTB_BUCKETS[k]
            nstat = (f"SELECT CAST(count(*) AS BIGINT) AS n,"
                     f" CAST(sum(t) AS BIGINT) AS sx,"
                     f" CAST(sum(y) AS BIGINT) AS sy"
                     f" FROM series WHERE t BETWEEN {nlo} AND {nhi}")
        else:
            nstat = (f"SELECT CAST(1 AS BIGINT) AS n, CAST(t AS BIGINT) AS sx,"
                     f" CAST(y AS BIGINT) AS sy"
                     f" FROM series WHERE t = {LTTB_N}")
        parts.append(f""",
    ns{k} AS ({nstat}),
    c{k} AS (
        SELECT s.t, s.y,
               abs((n.n * p.xa - n.sx) * (n.n * s.y - n.sy)
                   - (n.n * s.t - n.sx) * (n.n * p.ya - n.sy)) AS a2
        FROM series s, p{k - 1} p, ns{k} n
        WHERE s.t BETWEEN {lo} AND {hi}
        ORDER BY a2 DESC, s.t LIMIT 1
    ),
    p{k} AS (SELECT t AS xa, y AS ya FROM c{k})""")
    legs = [f"SELECT 0 AS bucket, t AS month_idx, y AS y_cents,"
            f" CAST(0 AS BIGINT) AS area2n2 FROM series WHERE t = 1"]
    legs += [
        f"SELECT {k}, t, y, CAST(a2 AS BIGINT) FROM c{k}"
        for k in range(1, LTTB_T - 1)
    ]
    legs.append(
        f"SELECT {LTTB_T - 1}, t, y, CAST(0 AS BIGINT)"
        f" FROM series WHERE t = {LTTB_N}"
    )
    return "".join(parts) + "\n    " + "\n    UNION ALL ".join(legs)


@query("window_downsample_lttb", oracle=_lttb_oracle())
def window_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013)
    of the 36-month revenue series to 12 points — the visually-
    optimal downsampler every time-series dashboard and long-retention
    metrics store runs before plotting or tiering data out: keep the
    endpoints, and in each interior bucket keep the point forming the
    largest triangle with the previously KEPT point and the NEXT
    bucket's centroid, so peaks, troughs, and inflections survive
    where naive striding or averaging erase them.

    LTTB is sequential (each bucket depends on the previous pick) —
    run exactly anyway as {LTTB_T}-2 unrolled rounds (the S-H-ESD
    bounded-rounds device): bucket boundaries are integer literals,
    and the next-bucket centroid cross-multiplies away so the argmax
    compares exact BIGINT doubled-areas x n², ties to the earliest
    month. The kept point's area ships in the output, making the
    selection auditable.

    100 TB: the series is calendar-bounded after one month rollup;
    each round is a <=4-row candidate frame against two 1-row anchors.
    For a large-N series the same recurrence runs as one
    aggregate-fold over the bucketed array (the DTW device) — the
    unroll here keeps the oracle twin mechanical.
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
    months = spark.range(1, LTTB_N + 1).select(
        F.col("id").cast("long").alias("t")
    )
    series = (
        months.join(rev, "t", "left")
        .select("t", F.coalesce("y", F.lit(0)).alias("y"))
        # ckpt-grain: bounded — LTTB_N-row month grid
        .localCheckpoint(eager=False)
    )
    prev = series.filter(F.col("t") == 1).select(
        F.col("t").alias("xa"), F.col("y").alias("ya")
    )
    out = [
        series.filter(F.col("t") == 1).select(
            F.lit(0).alias("bucket"),
            F.col("t").alias("month_idx"),
            F.col("y").alias("y_cents"),
            F.lit(0).cast("bigint").alias("area2n2"),
        )
    ]
    for k, (lo, hi) in enumerate(_LTTB_BUCKETS, start=1):
        if k < len(_LTTB_BUCKETS):
            nlo, nhi = _LTTB_BUCKETS[k]
            nstat = series.filter(F.col("t").between(nlo, nhi)).agg(
                F.count("*").cast("long").alias("n"),
                F.sum("t").cast("long").alias("sx"),
                F.sum("y").cast("long").alias("sy"),
            )
        else:
            nstat = series.filter(F.col("t") == LTTB_N).select(
                F.lit(1).cast("long").alias("n"),
                F.col("t").alias("sx"),
                F.col("y").alias("sy"),
            )
        pick = (
            series.filter(F.col("t").between(lo, hi))
            .crossJoin(F.broadcast(prev))
            .crossJoin(F.broadcast(nstat))
            .select(
                "t",
                "y",
                F.abs(
                    (F.col("n") * F.col("xa") - F.col("sx"))
                    * (F.col("n") * F.col("y") - F.col("sy"))
                    - (F.col("n") * F.col("t") - F.col("sx"))
                    * (F.col("n") * F.col("ya") - F.col("sy"))
                ).alias("a2"),
            )
            .orderBy(F.desc("a2"), "t")
            .limit(1)
            # ckpt-grain: iterative-loop — per-bucket limit(1) pick; 1 row per iteration
            .localCheckpoint(eager=False)
        )
        out.append(
            pick.select(
                F.lit(k).alias("bucket"),
                F.col("t").alias("month_idx"),
                F.col("y").alias("y_cents"),
                F.col("a2").cast("bigint").alias("area2n2"),
            )
        )
        prev = pick.select(F.col("t").alias("xa"), F.col("y").alias("ya"))
    out.append(
        series.filter(F.col("t") == LTTB_N).select(
            F.lit(LTTB_T - 1).alias("bucket"),
            F.col("t").alias("month_idx"),
            F.col("y").alias("y_cents"),
            F.lit(0).cast("bigint").alias("area2n2"),
        )
    )
    res = out[0]
    for fr in out[1:]:
        res = res.unionAll(fr)
    return res


# Damped-trend Holt (alpha = beta = 1/2, phi = 1/2), 16-observation
# window, init l = v_{t-15}, b = 0 — the damped recurrence
# l_t = y/2 + l/2 + b/4, b_t = y/4 - l/4 + 3b/8 unrolls to exact
# dyadic coefficient tables over 2^44 (the holt_linear device with the
# damping folded into the matrix powers); derived with Fractions and
# replayed against the sequential recursion in the test.
DHOLT_DEN = 1 << 44
DHOLT_L = (
    8796093022208, 5497558138880, 2611340115968, 910533066752,
    143881404416, -101737037824, -124990259200, -83932217344,
    -42193125376, -15935930368, -3395657728, 1012782080, 1735098752,
    1265015888, 673114214, 278513098,
)
DHOLT_B = (
    4398046511104, -549755813888, -1580547964928, -1245540515840,
    -694710960128, -296486961152, -85748350976, -908066816,
    20642529280, 18289229824, 10842443776, 4914830848, 1589866048,
    162425080, -255344567, -533857665,
)


def _dholt_half_up(expr: str, den: int) -> str:
    return (
        f"CASE WHEN {expr} >= 0"
        f" THEN (2 * CAST({expr} AS HUGEINT) + {den}) // {2 * den}"
        f" ELSE -((2 * CAST(-({expr}) AS HUGEINT) + {den}) // {2 * den})"
        f" END"
    )


@query(
    "holt_damped_trend_smoothing",
    oracle=f"""
    WITH series AS (
        SELECT o_orderpriority AS priority,
               strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(25,6))) * 100, 0)
                    AS BIGINT) AS cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ),
    idx AS (
        SELECT priority, month, cents,
               row_number() OVER (PARTITION BY priority ORDER BY month) AS rn,
               {_holt_sql_dot(DHOLT_L, "priority", "month")} AS lsc,
               {_holt_sql_dot(DHOLT_B, "priority", "month")} AS bsc
        FROM series
    )
    SELECT priority, month,
           CAST({_dholt_half_up("lsc", DHOLT_DEN)} AS BIGINT) AS level_cents,
           CAST({_dholt_half_up("bsc", DHOLT_DEN)} AS BIGINT) AS trend_cents,
           CAST({_dholt_half_up("(8 * lsc + 7 * bsc)", 8 * DHOLT_DEN)}
                AS BIGINT) AS forecast3_cents
    FROM idx WHERE rn >= 16
    """,
)
def holt_damped_trend_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped-trend Holt smoothing (Gardner & McKenzie 1985) — the
    M-competition workhorse that beats plain Holt by letting the trend
    DECAY (phi = 1/2) instead of extrapolating forever — over each
    priority's monthly revenue, with the 3-step-ahead forecast
    l + (phi + phi² + phi³)·b = l + (7/8)·b. Completes the exponential-
    smoothing family: SES-by-theta (forecast_theta_method), linear
    Holt, damped Holt, and Holt-Winters seasonal.

    Same exactness device as holt_linear_smoothing: with all constants
    dyadic, the 16-observation windowed recurrence unrolls to literal
    coefficient tables over 2^44 (damping folded into the matrix
    powers — table derived with Fractions, replayed against the
    sequential recursion in the test); level, trend, and forecast are
    mirrored half-up integer cents. One month rollup, one 16-lag
    window pass per priority — no recursion at runtime.
    """
    m = order_cents_rollup(
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull()),
        [F.col("o_orderpriority").alias("priority"), order_month().alias("month")],
        "cents",
    )
    w = Window.partitionBy("priority").orderBy("month")
    lsc = sum(
        (
            F.lit(c).cast("decimal(38,0)")
            * (F.lag("cents", k).over(w) if k else F.col("cents"))
            for k, c in enumerate(DHOLT_L)
        ),
        F.lit(0).cast("decimal(38,0)"),
    )
    bsc = sum(
        (
            F.lit(c).cast("decimal(38,0)")
            * (F.lag("cents", k).over(w) if k else F.col("cents"))
            for k, c in enumerate(DHOLT_B)
        ),
        F.lit(0).cast("decimal(38,0)"),
    )
    idx = m.select(
        "priority",
        "month",
        F.row_number().over(w).alias("rn"),
        lsc.alias("lsc"),
        bsc.alias("bsc"),
    ).filter(F.col("rn") >= 16)

    def half_up(expr: str, den: int) -> str:
        return (
            f"CASE WHEN {expr} >= 0"
            f" THEN (2 * CAST({expr} AS DECIMAL(38,0)) + {den}) DIV {2 * den}"
            f" ELSE -((2 * CAST(-({expr}) AS DECIMAL(38,0)) + {den})"
            f" DIV {2 * den}) END"
        )

    return idx.select(
        "priority",
        "month",
        F.expr(f"CAST({half_up('lsc', DHOLT_DEN)} AS BIGINT)").alias(
            "level_cents"
        ),
        F.expr(f"CAST({half_up('bsc', DHOLT_DEN)} AS BIGINT)").alias(
            "trend_cents"
        ),
        F.expr(
            f"CAST({half_up('(8 * lsc + 7 * bsc)', 8 * DHOLT_DEN)} AS BIGINT)"
        ).alias("forecast3_cents"),
    )
