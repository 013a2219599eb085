"""Data-layout operators: multi-dimensional clustering keys.

At 100 TB the scan is the query plan's biggest term, and scans are
bounded by LAYOUT: a table sorted on one column prunes only on that
column. Z-ordering (Morton codes) interleaves the bits of two (or more)
dimensions into one sort key so that sorting by the single key keeps
rows close in BOTH dimensions — min/max statistics per file/row-group
then prune selective predicates on either column. This is the same
technique Delta Lake's OPTIMIZE ZORDER BY and Databricks liquid
clustering apply; here it is expressed as pure integer bit algebra in
built-in expressions (whole-stage codegen, no UDF), usable as
``df.repartitionByRange(N, zorder_key(...)).sortWithinPartitions(...)``
ahead of a parquet write.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import d53, sql_d53
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

# Morton "bit spread" masks: 16 input bits spaced out to every other
# position of a 32-bit word (the classic magic-number interleave).
_SPREAD = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def spread_bits16(c: Column) -> Column:
    """Space the low 16 bits of ``c`` into the even bit positions.

    Works in BIGINT: with all 16 input bits set, spread = 0x55555555 and
    the caller's ``<< 1`` reaches 0xAAAAAAAA > INT32_MAX — INT arithmetic
    would wrap negative (diverging from the oracle's BIGINT ladder), so
    widen before the first shift.
    """
    x = c.cast("long").bitwiseAND(F.lit(65535))
    for shift, mask in _SPREAD:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_key16(a: Column, b: Column) -> Column:
    """32-bit Morton code interleaving the low 16 bits of two columns."""
    return spread_bits16(a).bitwiseOR(F.shiftleft(spread_bits16(b), 1))


def _order_day() -> Column:
    """Days from 1995-01-01 to o_orderdate."""
    return F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))


def _bucket_extents(keyed: DataFrame, bucket: Column) -> DataFrame:
    """Per ``bucket`` of ``keyed``: its row count and the range of its
    customer keys (ck) and order days (dy)."""
    return keyed.groupBy(bucket).agg(
        F.count("*").alias("n_rows"),
        F.min("ck").alias("min_custkey"),
        F.max("ck").alias("max_custkey"),
        F.min("dy").alias("min_day"),
        F.max("dy").alias("max_day"),
    )


@query(
    "zorder_locality_buckets",
    oracle="""
    WITH base AS (
        SELECT (o_custkey & 65535) AS xa,
               (date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                & 65535) AS yb,
               o_custkey AS ck,
               date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS dy
        FROM orders
    ), s1 AS (
        SELECT ck, dy,
               ((xa | (xa << 8)) & 16711935) AS x, ((yb | (yb << 8)) & 16711935) AS y
        FROM base
    ), s2 AS (
        SELECT ck, dy,
               ((x | (x << 4)) & 252645135) AS x, ((y | (y << 4)) & 252645135) AS y
        FROM s1
    ), s3 AS (
        SELECT ck, dy,
               ((x | (x << 2)) & 858993459) AS x, ((y | (y << 2)) & 858993459) AS y
        FROM s2
    ), s4 AS (
        SELECT ck, dy,
               ((x | (x << 1)) & 1431655765) AS x, ((y | (y << 1)) & 1431655765) AS y
        FROM s3
    ), keyed AS (
        SELECT ck, dy, (x | (y << 1)) AS zkey FROM s4
    )
    SELECT zkey >> 18 AS zbucket,
           count(*) AS n_rows,
           min(ck) AS min_custkey, max(ck) AS max_custkey,
           min(dy) AS min_day, max(dy) AS max_day
    FROM keyed GROUP BY 1
    """,
)
def zorder_locality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (o_custkey, order-day) and
    the per-bucket locality profile it induces: bucketing orders by the
    top bits (zkey >> 18) of the interleaved key yields buckets whose custkey AND
    date spans are each a bounded fraction of the full range — the min/max columns
    in the output ARE the file-skipping statistics a writer would get
    after ``repartitionByRange(zkey).write.parquet(...)``, proving
    both predicates prune.

    The key is pure bit algebra (shift/or/and magic-number spread —
    see ``spread_bits16``), evaluated in whole-stage codegen; the
    oracle computes the identical interleave through a CTE ladder.
    One hash aggregation; no shuffle beyond it. At 100 TB this key
    feeds the writer's range partitioner — the query itself is the
    planning/diagnostic pass and costs one scan.
    """
    o = load(spark, sf_dir, "orders")
    day = _order_day()
    keyed = o.select(
        zorder_key16(F.col("o_custkey"), day).alias("zkey"),
        F.col("o_custkey").alias("ck"),
        day.alias("dy"),
    )
    return _bucket_extents(keyed, F.shiftright("zkey", 18).alias("zbucket"))


COMPACT_TARGET = 16384  # bytes per output file (scaled-down stand-in)


@query(
    "compaction_bin_packing",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM documents
    ), binned AS (
        SELECT source, doc_id, n_chars,
               (cum - n_chars) // {COMPACT_TARGET} AS bin
        FROM sized
    )
    SELECT source, CAST(bin AS BIGINT) AS bin,
           count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS total_bytes,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM binned GROUP BY 1, 2
    """,
)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner for the small-files problem: assign each
    document ("file") to a target-sized output bin by start-offset
    packing — a file goes to the bin where its cumulative start offset
    lands, so every bin holds ≥ TARGET bytes except the last per
    partition. This is the planning pass behind OPTIMIZE/compact jobs:
    the output (bin → file ranges) IS the task list a rewrite stage
    executes, and contiguous doc_id ranges per bin mean each task reads
    a sequential slice.

    Deterministic by construction: pure integer running sum ordered by
    (source, doc_id) — a total order. Scale: the window partitions by
    source, so each table partition packs independently and in
    parallel (the global-prefix-sum variant is only needed if bins may
    span sources — they shouldn't: compaction preserves partition
    boundaries). One shuffle on source; the aggregate reuses the same
    partitioning.
    """
    d = load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars")
    w = Window.partitionBy("source").orderBy("doc_id")
    binned = d.withColumn(
        "bin",
        F.floor((F.sum("n_chars").over(w) - F.col("n_chars")) / COMPACT_TARGET),
    )
    return binned.groupBy("source", "bin").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").alias("total_bytes"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SKEW_TOP_KEYS = 10
SKEW_TARGET_ROWS_PER_TASK = 1000  # tuning constant at test scale


@query(
    "diag_join_skew_advisor",
    oracle=f"""
    WITH freq AS (
        SELECT o_custkey AS join_key, count(*) AS n_rows
        FROM orders GROUP BY 1
    ), stats AS (
        SELECT r.join_key, r.n_rows,
               row_number() OVER (ORDER BY r.n_rows DESC, r.join_key ASC) AS heavy_rank,
               (SELECT n_rows FROM (
                    SELECT n_rows, row_number() OVER (ORDER BY n_rows, join_key) AS rn,
                           count(*) OVER () AS n
                    FROM freq) WHERE rn = (n + 1) // 2) AS median_rows
        FROM freq r
    )
    SELECT join_key, n_rows, heavy_rank,
           (10000 * n_rows) // median_rows AS skew_ratio_bp,
           CAST(ceil(CAST(n_rows AS DOUBLE) / {SKEW_TARGET_ROWS_PER_TASK})
                AS BIGINT) AS recommended_salt
    FROM stats
    WHERE heavy_rank <= {SKEW_TOP_KEYS}
    """,
)
def diag_join_skew_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew ADVISOR — the diagnosis pass that names a join's hot
    keys before a straggler does: per join key, row count, heavy rank,
    skew ratio vs the MEDIAN key (integer basis points — a key at 40x
    median is the straggler that stalls the stage), and the
    recommended salt fan-out ceil(rows / target-rows-per-task). The
    engine ships no salting rewrite: AQE's skew-join split is its
    mitigation, and a manual salted join did not beat it when
    measured (SURVEY §8.12). The report reads the same whatever the
    mitigation is; at 100 TB it is what you run before repartitioning
    a trillion-row join.

    One aggregation builds the frequency table; the median key load is
    the lower-median order statistic over the (bounded, one row per
    key) frequency table — window math on the SMALL side, never the
    facts. Integer end to end: ratio in bp by integer division, the
    salt via ceil on an exact small-int quotient (identical IEEE
    division both engines).
    """
    freq = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("join_key"))
        .agg(F.count("*").alias("n_rows"))
    )
    n_keys = Window.orderBy(F.asc("n_rows"), F.asc("join_key"))
    med = (
        freq.withColumn("rn", F.row_number().over(n_keys))
        .withColumn("n", F.count("*").over(Window.partitionBy()))
        .filter(F.expr("rn = (n + 1) div 2"))
        .select(F.col("n_rows").alias("median_rows"))
    )
    ranked = (
        freq.crossJoin(F.broadcast(med))
        .withColumn(
            "heavy_rank",
            F.row_number().over(
                Window.orderBy(F.desc("n_rows"), F.asc("join_key"))
            ),
        )
        .filter(F.col("heavy_rank") <= SKEW_TOP_KEYS)
    )
    return ranked.select(
        "join_key",
        "n_rows",
        "heavy_rank",
        F.expr("(10000 * n_rows) div median_rows").alias("skew_ratio_bp"),
        F.ceil(
            F.col("n_rows").cast("double") / SKEW_TARGET_ROWS_PER_TASK
        ).cast("long").alias("recommended_salt"),
    )


# Gorilla timestamp compression classes (Pelkonen et al., VLDB '15):
# bits charged per event by delta-of-delta magnitude.
_GORILLA_CLASS_SQL = """
CASE WHEN seq = 1 THEN 'header-full'
     WHEN seq = 2 THEN 'header-delta'
     WHEN dod = 0 THEN 'dod-zero'
     WHEN dod BETWEEN -63 AND 64 THEN 'dod-7bit'
     WHEN dod BETWEEN -255 AND 256 THEN 'dod-9bit'
     WHEN dod BETWEEN -2047 AND 2048 THEN 'dod-12bit'
     ELSE 'dod-32bit' END
"""
_GORILLA_BITS_SQL = """
CASE WHEN seq = 1 THEN 64
     WHEN seq = 2 THEN 27
     WHEN dod = 0 THEN 1
     WHEN dod BETWEEN -63 AND 64 THEN 9
     WHEN dod BETWEEN -255 AND 256 THEN 12
     WHEN dod BETWEEN -2047 AND 2048 THEN 16
     ELSE 36 END
"""


@query(
    "storage_gorilla_ts_encoding_audit",
    oracle=f"""
    WITH seqd AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS t,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS seq,
               CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d1
        FROM events
    ),
    dodt AS (
        SELECT user_id, seq,
               d1 - lag(d1) OVER (PARTITION BY user_id
                                  ORDER BY seq) AS dod
        FROM seqd
    ),
    classed AS (
        SELECT {_GORILLA_CLASS_SQL} AS enc_class,
               {_GORILLA_BITS_SQL} AS bits
        FROM dodt
    ),
    agg AS (
        SELECT enc_class,
               count(*) AS n_events,
               CAST(sum(bits) AS BIGINT) AS bits_total
        FROM classed GROUP BY 1
    )
    SELECT enc_class, n_events, bits_total,
           CAST((2 * 10000 * n_events + sum(n_events) OVER ())
                // (2 * sum(n_events) OVER ()) AS BIGINT) AS share_bp,
           CAST((2 * 10000 * sum(bits_total) OVER ()
                 + 64 * sum(n_events) OVER ())
                // (2 * 64 * sum(n_events) OVER ()) AS BIGINT)
               AS corpus_ratio_bp
    FROM agg
    """,
)
def storage_gorilla_ts_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla delta-of-delta timestamp encodability audit (Pelkonen
    et al., VLDB '15 — the encoding behind every modern TSDB): for
    each user's event stream in time order, charge the bits Gorilla
    would spend on the timestamp — full header for the first point, a
    27-bit delta for the second, then 1/9/12/16/36 bits by
    delta-of-delta magnitude class — and roll up the class histogram
    plus the corpus-wide compressed-vs-raw-64-bit ratio in basis
    points. This is the storage-side twin of the zorder/compaction
    audits: it tells a time-series ingest pipeline how regular its
    event cadence is (dod-zero share == perfectly periodic traffic)
    and what its timestamp column will actually cost on disk.

    Exactness: epoch seconds and all deltas are BIGINTs; class edges
    are integer BETWEENs; shares/ratios use the cross-multiplied
    half-up device. The (ts, event_id) sort key makes same-timestamp
    ordering total. Scale: two lag windows sharing ONE per-user sort
    (the sessionization shape), one small class rollup — the windows
    over the 7-row class frame are calendar-bounded, not data-bounded.
    """
    ev = load(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.select(
        "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("t"),
        F.row_number().over(wu).alias("seq"),
        (
            F.unix_timestamp("ts").cast("bigint")
            - F.lag(F.unix_timestamp("ts").cast("bigint")).over(wu)
        ).alias("d1"),
    )
    dodt = seqd.select(
        "seq",
        (
            F.col("d1")
            - F.lag("d1").over(Window.partitionBy("user_id").orderBy("seq"))
        ).alias("dod"),
    )
    classed = dodt.select(
        F.expr(_GORILLA_CLASS_SQL).alias("enc_class"),
        F.expr(_GORILLA_BITS_SQL).alias("bits"),
    )
    agg = classed.groupBy("enc_class").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("bits").cast("bigint").alias("bits_total"),
    )
    return agg.select(
        "enc_class",
        "n_events",
        "bits_total",
        F.expr(
            "CAST((2 * 10000 * n_events + sum(n_events) OVER ())"
            " DIV (2 * sum(n_events) OVER ()) AS BIGINT)"
        ).alias("share_bp"),
        F.expr(
            "CAST((2 * 10000 * sum(bits_total) OVER ()"
            " + 64 * sum(n_events) OVER ())"
            " DIV (2 * 64 * sum(n_events) OVER ()) AS BIGINT)"
        ).alias("corpus_ratio_bp"),
    )


_DICT_COLS = [
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
    ("customer", "c_mktsegment"),
    ("events", "event_type"),
    ("documents", "lang"),
    ("documents", "source"),
]


def _dict_advisor_sql(table: str, col: str) -> str:
    return f"""
        SELECT '{table}' AS tbl, '{col}' AS col,
               count(*) AS n_rows,
               count(DISTINCT {col}) AS ndv,
               CAST(8 * sum(length({col})) AS BIGINT) AS plain_bits,
               CAST(count(*) * greatest(length(bin(count(DISTINCT {col}) - 1)), 1)
                    AS BIGINT) AS idx_bits
        FROM {table}"""


@query(
    "storage_dictionary_encoding_advisor",
    oracle=f"""
    WITH stats AS (
        {" UNION ALL ".join(_dict_advisor_sql(t, c) for t, c in _DICT_COLS)}
    ),
    dlen AS (
        {" UNION ALL ".join(
            f"SELECT '{t}' AS tbl, '{c}' AS col, "
            f"CAST(8 * sum(l) AS BIGINT) AS dict_entry_bits "
            f"FROM (SELECT DISTINCT {c} AS v, length({c}) AS l FROM {t})"
            for t, c in _DICT_COLS
        )}
    )
    SELECT s.tbl, s.col,
           CAST(s.n_rows AS BIGINT) AS n_rows,
           CAST(s.ndv AS BIGINT) AS ndv,
           s.plain_bits,
           CAST(s.idx_bits + d.dict_entry_bits AS BIGINT) AS dict_bits,
           CAST(CASE WHEN s.idx_bits + d.dict_entry_bits < s.plain_bits
                     THEN 1 ELSE 0 END AS INTEGER) AS use_dict,
           CAST((2 * 10000 * (s.plain_bits - s.idx_bits - d.dict_entry_bits)
                 + s.plain_bits) // (2 * s.plain_bits) AS BIGINT)
               AS savings_bp
    FROM stats s JOIN dlen d ON d.tbl = s.tbl AND d.col = s.col
    """,
)
def storage_dictionary_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-encoding advisor — the cost model a columnar writer
    (parquet/ORC) evaluates per column: plain encoding costs
    8·Σlength bits; dictionary encoding costs one ceil(log2(NDV))-bit
    index per row plus the dictionary's entry bytes. The advisor
    profiles six categorical string columns across four tables and
    emits the decision plus savings in basis points — the
    profile_table_columns sibling aimed at storage bytes rather than
    semantics (low-NDV priority/status/segment columns dictionary-
    encode at >90% savings; that's why the layout family's zorder and
    compaction choices treat them as cheap sort keys).

    Exactness: index width = length(bin(ndv-1)) — both engines render
    identical binary strings — and everything else is integer counts
    and lengths with the half-up bp device. Scale: one column-pruned
    scan + one hash-agg per column (NDV exact here; at extreme NDV
    you'd swap in the KMV sketch family's estimate and keep the same
    decision rule).
    """
    frames = []
    for t, c in _DICT_COLS:
        df = load(spark, sf_dir, t)
        stats = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(c).alias("ndv"),
            (8 * F.sum(F.length(c))).cast("bigint").alias("plain_bits"),
        )
        dlen = (
            df.select(F.col(c).alias("v"))
            .distinct()
            .agg((8 * F.sum(F.length("v"))).cast("bigint").alias("dict_entry_bits"))
        )
        frames.append(
            stats.crossJoin(dlen).select(
                F.lit(t).alias("tbl"),
                F.lit(c).alias("col"),
                F.col("n_rows").cast("bigint").alias("n_rows"),
                F.col("ndv").cast("bigint").alias("ndv"),
                "plain_bits",
                (
                    F.col("n_rows")
                    * F.greatest(F.length(F.bin(F.col("ndv") - 1)), F.lit(1))
                    + F.col("dict_entry_bits")
                )
                .cast("bigint")
                .alias("dict_bits"),
            )
        )
    allc = reduce(lambda a, b: a.unionByName(b), frames)
    return allc.select(
        "tbl",
        "col",
        "n_rows",
        "ndv",
        "plain_bits",
        "dict_bits",
        F.when(F.col("dict_bits") < F.col("plain_bits"), 1)
        .otherwise(0)
        .cast("int")
        .alias("use_dict"),
        F.expr(
            "CAST((2 * 10000 * (plain_bits - dict_bits) + plain_bits)"
            " DIV (2 * plain_bits) AS BIGINT)"
        ).alias("savings_bp"),
    )


RLE_SHARD_KEYS = 1 << 16  # natural-leg o_orderkey block size


@query(
    "storage_rle_sortedness_audit",
    # o_orderkey block size for the natural-leg sharded run count: the
    # block id (key DIV 2^16) is a prefix of the key order, so blocks
    # partition the lag window; boundary merges are corrected on the
    # block grid. 2^16 keys/block keeps blocks executor-sized at any SF.
    oracle="""
    WITH nat AS (
        SELECT o_orderpriority AS v,
               lag(o_orderpriority) OVER (ORDER BY o_orderkey) AS pv
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    srt AS (
        SELECT o_orderpriority AS v,
               lag(o_orderpriority) OVER (ORDER BY o_orderpriority, o_orderkey)
                   AS pv
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    runs AS (
        SELECT 'natural' AS layout,
               CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_runs,
               count(*) AS n_rows
        FROM nat
        UNION ALL
        SELECT 'sorted',
               CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(*)
        FROM srt
    )
    SELECT layout, n_runs, CAST(n_rows AS BIGINT) AS n_rows,
           CAST((2 * 10000 * n_runs + n_rows) // (2 * n_rows) AS BIGINT)
               AS runs_per_row_bp
    FROM runs
    """,
)
def storage_rle_sortedness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding sortedness audit — the quantified payoff of
    sorting before writing: RLE stores one (value, length) pair per
    RUN, so its size is proportional to the run count, and the same
    priority column that needs ~n runs in arrival order collapses to
    NDV runs after a sort. The two-row report (runs and runs-per-row
    in bp per layout) is exactly the evidence a table-layout decision
    (zorder_locality_buckets' sibling) weighs when choosing sort keys
    for write jobs: runs_per_row_bp(sorted) / runs_per_row_bp(natural)
    IS the RLE compression multiplier sorting buys.

    Exactness: a run starts where lag(value) differs — pure string
    compare over total-ordered windows (tie-broken by o_orderkey);
    counts and the bp device are integers. Scale (r9, plan-lint R6):
    neither leg runs a single-partition window any more —
    - natural leg: runs are counted inside 65536-key o_orderkey
      blocks (the block id is a PREFIX of the key order), then the
      per-block first/last values meet on the tiny aggregated block
      grid and every boundary where prev block's last == next
      block's first merges two counted runs into one (subtract);
    - sorted leg: the (value, key) order groups by value, so a lag
      PARTITIONED by the value is exact as-is — partition boundaries
      are always genuine run starts (the neighboring value differs
      by construction).
    At real scale the sorted pass still prices the write job's sort;
    run counting itself stays a per-block map-side fold.
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())

    def run_starts() -> F.Column:
        return (
            F.sum(
                F.when(F.col("pv").isNull() | (F.col("v") != F.col("pv")), 1)
                .otherwise(0)
            )
            .cast("bigint")
        )

    # natural leg: per-block lag + boundary merge correction
    nat = o.select(
        F.col("o_orderpriority").alias("v"),
        "o_orderkey",
        F.expr(f"o_orderkey DIV {RLE_SHARD_KEYS}").alias("blk"),
    )
    wb = Window.partitionBy("blk").orderBy("o_orderkey")
    within = nat.withColumn("pv", F.lag("v").over(wb)).agg(
        run_starts().alias("n_runs_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    grid = nat.groupBy("blk").agg(
        F.min_by("v", "o_orderkey").alias("first_v"),
        F.max_by("v", "o_orderkey").alias("last_v"),
    )
    wg = Window.orderBy("blk")
    merges = (
        grid.select(
            "first_v", F.lag("last_v").over(wg).alias("prev_last")
        )
        .agg(
            F.count_if(
                F.col("prev_last").isNotNull()
                & (F.col("prev_last") == F.col("first_v"))
            )
            .cast("bigint")
            .alias("n_merges")
        )
    )
    nat_runs = within.crossJoin(F.broadcast(merges)).select(
        F.lit("natural").alias("layout"),
        (F.col("n_runs_w") - F.col("n_merges")).alias("n_runs"),
        "n_rows",
    )

    # sorted leg: partitioning BY the value is exact for the
    # (value, key) order — no correction needed
    srt = o.select(
        F.col("o_orderpriority").alias("v"),
        F.lag("o_orderpriority")
        .over(Window.partitionBy("o_orderpriority").orderBy("o_orderkey"))
        .alias("pv"),
    )
    srt_runs = srt.agg(
        run_starts().alias("n_runs"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    ).select(F.lit("sorted").alias("layout"), "n_runs", "n_rows")

    return (
        nat_runs.unionByName(srt_runs)
        .select(
            "layout",
            "n_runs",
            "n_rows",
            F.expr(
                "CAST((2 * 10000 * n_runs + n_rows) DIV (2 * n_rows) AS BIGINT)"
            ).alias("runs_per_row_bp"),
        )
    )


RING_SHARDS = 8  # shards before the resize
RING_BUCKETS = 256  # pos-prefix buckets; 48-bit pos -> DIV 2^40
RING_BDIV = 1 << 40


def ring_model(n_shards: int, n_vnodes: int):
    """Driver-side consistent-hash ring model (data-independent —
    positions are md5 of constant strings, replicating the oracle's
    md5('ring:' || s || ':' || v) 12-hex device bit-for-bit; hashlib
    and both engines emit identical lowercase hex over UTF-8).
    Returns (sorted vnodes [(pos, shard)], per-bucket slices, carries
    [successor shard for keys past the bucket's slice], first vnode's
    shard for the wrap). Property-tested against the brute-force
    successor definition in tests/test_r6_ops.py."""
    import hashlib

    vn = sorted(
        (int(hashlib.md5(f"ring:{s}:{v}".encode()).hexdigest()[:12], 16), s)
        for s in range(n_shards)
        for v in range(n_vnodes)
    )
    buckets: list[list[tuple[int, int]]] = [[] for _ in range(RING_BUCKETS)]
    for p, s in vn:
        buckets[p // RING_BDIV].append((p, s))
    carries: list[int | None] = [None] * RING_BUCKETS
    nxt: int | None = None
    for b in range(RING_BUCKETS - 1, -1, -1):
        carries[b] = nxt
        if buckets[b]:
            nxt = buckets[b][0][1]
    return vn, buckets, carries, vn[0][1]


def ring_lut_sql(n_shards: int) -> tuple[str, int]:
    """The ring model as a Spark SQL array literal (256 entries of
    struct<vs: array<struct<pos, shard>>, carry: int>) plus the wrap
    shard — folded into the plan by ConstantFolding, element_at'ed
    per key (the plan-time-literal model-state device)."""
    _, buckets, carries, frst = ring_model(n_shards, RING_VNODES)
    entries = []
    for b in range(RING_BUCKETS):
        if buckets[b]:
            vs = (
                "array("
                + ",".join(
                    f"named_struct('pos',{p}L,'shard',{s})"
                    for p, s in buckets[b]
                )
                + ")"
            )
        else:
            vs = "CAST(array() AS array<struct<pos:bigint,shard:int>>)"
        carry = str(carries[b]) if carries[b] is not None else "CAST(NULL AS INT)"
        entries.append(f"named_struct('vs',{vs},'carry',{carry})")
    return "array(" + ",".join(entries) + ")", frst
RING_VNODES = 8  # virtual nodes per shard
# sql_hex_to_long lives in functions.numeric; imported lazily below to
# keep this module's header unchanged.


def _ring_sql(n_shards: int) -> str:
    """Ring CTE: vnode positions for shards 0..n_shards-1."""
    from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long

    pos = sql_hex_to_long(
        "substring(md5('ring:' || CAST(s AS VARCHAR) || ':'"
        " || CAST(v AS VARCHAR)), 1, 12)",
        12,
    )
    return f"""
        SELECT CAST(s AS INTEGER) AS shard, {pos} AS pos
        FROM (SELECT unnest(generate_series(0, {n_shards - 1})) AS s),
             (SELECT unnest(generate_series(0, {RING_VNODES - 1})) AS v)"""


def _assign_sql(ring_cte: str) -> str:
    """Assignment via the sweep: union keys and vnodes by ring position;
    each key takes the next vnode's shard (wrapping to the first)."""
    return f"""
        SELECT kid, coalesce(nxt, frst) AS shard
        FROM (
            SELECT kid, is_v,
                   first_value(CASE WHEN is_v = 1 THEN shard END IGNORE NULLS)
                       OVER (ORDER BY pos, is_v
                             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS nxt,
                   first_value(CASE WHEN is_v = 1 THEN shard END IGNORE NULLS)
                       OVER (ORDER BY pos, is_v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING) AS frst
            FROM (
                SELECT NULL AS kid, shard, pos, 1 AS is_v FROM ({ring_cte})
                UNION ALL
                SELECT kid, NULL, kpos, 0 FROM keys
            )
        ) WHERE is_v = 0"""


def _consistent_hash_oracle() -> str:
    from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long

    kpos = sql_hex_to_long(
        "substring(md5('key:' || CAST(c_custkey AS VARCHAR)), 1, 12)", 12
    )
    return f"""
    WITH keys AS (
        SELECT c_custkey AS kid, {kpos} AS kpos FROM customer
    ),
    before AS ({_assign_sql(_ring_sql(RING_SHARDS))}),
    after AS ({_assign_sql(_ring_sql(RING_SHARDS + 1))}),
    joined AS (
        SELECT b.kid, b.shard AS s_before, a.shard AS s_after
        FROM before b JOIN after a ON a.kid = b.kid
    ),
    pershard AS (
        SELECT s_after AS shard,
               count(*) AS n_keys,
               CAST(sum(CASE WHEN s_before <> s_after THEN 1 ELSE 0 END)
                    AS BIGINT) AS gained
        FROM joined GROUP BY 1
    )
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(n_keys AS BIGINT) AS n_keys,
           gained,
           CAST((2 * 10000 * n_keys + sum(n_keys) OVER ())
                // (2 * sum(n_keys) OVER ()) AS BIGINT) AS load_bp,
           CAST((2 * 10000 * sum(gained) OVER () + sum(n_keys) OVER ())
                // (2 * sum(n_keys) OVER ()) AS BIGINT) AS moved_total_bp
    FROM pershard
    """


@query("shard_consistent_hash_ring", oracle=_consistent_hash_oracle())
def shard_consistent_hash_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring sharding with a resize audit — the
    placement algorithm every distributed store (Dynamo, Cassandra,
    object caches) uses so that ADDING a shard moves only ~1/(n+1) of
    the keys, and moves them ONLY to the new shard: {RING_SHARDS}
    shards x {RING_VNODES} virtual nodes hash onto a ring, every
    customer key takes the next vnode clockwise, then the ring is
    re-run with one extra shard and the per-shard load and gained-key
    counts are compared. `gained` is nonzero ONLY for the new shard —
    the consistent-hashing contract as a graded integer column — and
    `moved_total_bp` lands near 10000/(n+1) bp.

    Implementation (r10): the ring is DATA-INDEPENDENT — vnode
    positions are md5 of constant strings — so the engine folds the
    entire ring into PLAN-TIME LITERALS (the same contract as the
    similarity family's k-centroid anchors): a 256-bucket lookup
    table (pos DIV 2^40 over the 48-bit positions), each bucket a
    literal array of its sorted vnode structs plus a precomputed
    CARRY (the successor vnode's shard for keys past the slice). A
    key's owner is one O(1) element_at + a filter over the ~0.25-
    element slice, and BOTH rings evaluate as two map-side
    expressions on the same row — no ring-side stages, no broadcast,
    no before/after self-join. This is how a real router evaluates a
    ring (the ring IS compiled model state); r9's collect_list
    broadcast + 64-struct per-key filter + join paid ~3 stages and
    1.3 s at sf0.1 for what is a constant-folding problem. The
    oracle keeps the union-sweep construction — keys and vnodes
    ordered by ring position with a forward-looking IGNORE NULLS
    first_value, ring built by generate_series + md5 in SQL — so
    hash equality proves the literal LUT against a fully independent
    formulation.

    Exactness: positions are 48-bit md5 integers (the shared
    hex-ladder device; r10 also fixed the Spark side to true 12-hex
    positions — the r9 form's hash_key().substr(1,12) yielded only 8
    hex chars, leaving assignment ties between equal 32-bit prefixes
    engine-divergent in principle), ties between a key and a
    coincident vnode order the vnode after the key (kpos <= vpos
    owns), and the load / movement shares use the half-up bp device.
    """
    from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long

    keys = (
        load(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.substring(
                F.md5(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))),
                1,
                12,
            ).alias("hx"),
        )
        .select(
            F.col("c_custkey").alias("kid"),
            F.expr(sql_hex_to_long("hx", 12)).alias("kpos"),
        )
    )

    lut_b, frst_b = ring_lut_sql(RING_SHARDS)
    lut_a, frst_a = ring_lut_sql(RING_SHARDS + 1)
    idx = f"CAST(kpos DIV {RING_BDIV} AS INT) + 1"
    # Both assignments in ONE map-side projection: element_at into the
    # folded LUT literal, first slice vnode at pos >= kpos owns
    # (coincident vnode owns — the "kpos <= vpos" tie rule), else the
    # bucket's carry, else wrap to the ring's first vnode.
    assigned = keys.select(
        "kid",
        "kpos",
        F.expr(f"element_at({lut_b}, {idx})").alias("bb"),
        F.expr(f"element_at({lut_a}, {idx})").alias("ba"),
    ).select(
        "kid",
        F.expr(
            "coalesce(get(filter(bb.vs, x -> x.pos >= kpos), 0).shard,"
            f" bb.carry, {frst_b})"
        ).alias("s_before"),
        F.expr(
            "coalesce(get(filter(ba.vs, x -> x.pos >= kpos), 0).shard,"
            f" ba.carry, {frst_a})"
        ).alias("s_after"),
    )
    pershard = assigned.groupBy(F.col("s_after").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(F.when(F.col("s_before") != F.col("s_after"), 1).otherwise(0))
        .cast("bigint")
        .alias("gained"),
    )
    return pershard.select(
        F.col("shard").cast("int").alias("shard"),
        "n_keys",
        "gained",
        F.expr(
            "CAST((2 * 10000 * n_keys + sum(n_keys) OVER ())"
            " DIV (2 * sum(n_keys) OVER ()) AS BIGINT)"
        ).alias("load_bp"),
        F.expr(
            "CAST((2 * 10000 * sum(gained) OVER () + sum(n_keys) OVER ())"
            " DIV (2 * sum(n_keys) OVER ()) AS BIGINT)"
        ).alias("moved_total_bp"),
    )


# Optimal sizing trees over the exact distinct count n (shared
# VERBATIM): bits m = ceil(-n ln p / (ln 2)^2), hashes k = round(ln(1/p)
# / ln 2) -- with p = 1/100 a spec constant, the ln terms are single
# libm calls on literals, identical in both engines.
_BLOOM_BITS = (
    "CAST(ceil(CAST(ndv AS DOUBLE) * ln(100.0)"
    " / (ln(2.0) * ln(2.0))) AS BIGINT)"
)
_BLOOM_K = "CAST(floor(ln(100.0) / ln(2.0) + 0.5) AS BIGINT)"
_BLOOM_ACTUAL_FPP_E6 = (
    "CAST(floor(exp(CAST(k_hashes AS DOUBLE)"
    " * ln(1.0 - exp(-(CAST(k_hashes AS DOUBLE) * CAST(ndv AS DOUBLE))"
    " / nullif(CAST(m_bits AS DOUBLE), 0)))) * 1e6 + 0.5) AS BIGINT)"
)


@query(
    "storage_bloom_sizing_advisor",
    oracle=f"""
    WITH cols AS (
        SELECT 'orders.o_custkey' AS column_name,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM orders
        UNION ALL
        SELECT 'lineitem.l_partkey',
               CAST(count(DISTINCT l_partkey) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem.l_suppkey',
               CAST(count(DISTINCT l_suppkey) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'events.user_id',
               CAST(count(DISTINCT user_id) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM events
        UNION ALL
        SELECT 'documents.source',
               CAST(count(DISTINCT source) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM documents
    ),
    sized AS (
        SELECT column_name, ndv, n_rows,
               {_BLOOM_BITS} AS m_bits,
               {_BLOOM_K} AS k_hashes
        FROM cols
    )
    SELECT column_name, ndv, n_rows, m_bits, k_hashes,
           CAST((m_bits + 7) // 8 AS BIGINT) AS filter_bytes,
           CAST((2 * 100 * ((m_bits + 7) // 8) + n_rows)
                // (2 * n_rows) AS BIGINT) AS bytes_per_100rows,
           {_BLOOM_ACTUAL_FPP_E6} AS actual_fpp_e6
    FROM sized
    ORDER BY column_name
    """,
)
def storage_bloom_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing advisor for the join/filter key columns a
    columnar writer would index (parquet bloom_filter_enabled, Spark's
    spark.sql.optimizer.runtime.bloomFilter): given each column's EXACT
    distinct count, report the optimal bit count m = ceil(n·ln(1/p)/
    ln²2) and hash count k = ln(1/p)/ln2 for a 1% target FPR, the
    filter's byte cost amortized per 100 rows, and the achieved FPR
    (1 - e^{{-kn/m}})^k. The sizing arithmetic behind
    sketch_bloom_membership (which BUILDS a filter) — this one plans a
    fleet of them, the way a table-format writer does per row group.

    Exactness: ndv/n_rows are exact integers (the only data inputs);
    every sizing column is one shared-verbatim IEEE tree whose ln/exp
    arguments are literals or integer-derived (the 1-ulp libm spread
    cannot flip ceil at these magnitudes: m is ~1e5 from values
    computed identically); byte costs are pure integer half-up
    quotients. 100 TB plan: five map-side distinct-count reductions
    (exact here; at petabyte NDV the same advisor runs on
    approx_count_distinct within its ±2% envelope) — no joins, no
    windows.
    """
    specs = [
        ("orders.o_custkey", "orders", "o_custkey"),
        ("lineitem.l_partkey", "lineitem", "l_partkey"),
        ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        ("events.user_id", "events", "user_id"),
        ("documents.source", "documents", "source"),
    ]
    frames = []
    for label, table, col in specs:
        frames.append(
            load(spark, sf_dir, table).agg(
                F.lit(label).alias("column_name"),
                F.countDistinct(col).cast("bigint").alias("ndv"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            )
        )
    cols = reduce(lambda a, b: a.unionByName(b), frames)
    sized = cols.select(
        "column_name",
        "ndv",
        "n_rows",
        F.expr(_BLOOM_BITS).alias("m_bits"),
        F.expr(_BLOOM_K).alias("k_hashes"),
    )
    return sized.select(
        "column_name",
        "ndv",
        "n_rows",
        "m_bits",
        "k_hashes",
        F.expr("CAST((m_bits + 7) DIV 8 AS BIGINT)").alias("filter_bytes"),
        F.expr(
            "CAST((2 * 100 * ((m_bits + 7) DIV 8) + n_rows)"
            " DIV nullif(2 * n_rows, 0) AS BIGINT)"
        ).alias("bytes_per_100rows"),
        F.expr(_BLOOM_ACTUAL_FPP_E6).alias("actual_fpp_e6"),
    ).orderBy("column_name")


def _hilbert_oracle() -> str:
    """CTE ladder unrolling the canonical xy2d loop (one round per bit
    level s = 128..1): d += s²·((3rx) xor ry), then the quadrant
    rotation/reflection. DuckDB xor() / & / << on BIGINTs."""
    rounds = []
    prev = "h0"
    for i, s in enumerate([128, 64, 32, 16, 8, 4, 2, 1]):
        cur = f"h{i + 1}"
        rounds.append(f""",
    {cur} AS (
        SELECT ck, dy,
               d + {s * s} * xor(3 * (CASE WHEN (x & {s}) > 0
                                           THEN 1 ELSE 0 END),
                                 (CASE WHEN (y & {s}) > 0
                                       THEN 1 ELSE 0 END)) AS d,
               CASE WHEN (y & {s}) > 0 THEN x
                    WHEN (x & {s}) > 0 THEN {s} - 1 - y
                    ELSE y END AS x,
               CASE WHEN (y & {s}) > 0 THEN y
                    WHEN (x & {s}) > 0 THEN {s} - 1 - x
                    ELSE x END AS y
        FROM {prev}
    )""")
        prev = cur
    return f"""
    WITH h0 AS (
        SELECT o_custkey AS ck,
               date_diff('day', DATE '1995-01-01',
                         CAST(o_orderdate AS DATE)) AS dy,
               CAST(0 AS BIGINT) AS d,
               (o_custkey & 255) AS x,
               (date_diff('day', DATE '1995-01-01',
                          CAST(o_orderdate AS DATE)) & 255) AS y
        FROM orders
    ){''.join(rounds)}
    SELECT d >> 8 AS hbucket,
           count(*) AS n_rows,
           min(ck) AS min_custkey, max(ck) AS max_custkey,
           min(dy) AS min_day, max(dy) AS max_day
    FROM {prev} GROUP BY 1
    """


@query("layout_hilbert_locality_buckets", oracle=_hilbert_oracle())
def layout_hilbert_locality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over (custkey low-8, order-day low-8) and
    the per-bucket locality profile — the space-filling-curve twin of
    zorder_locality_buckets on the same grid, bucketed by the top 8
    bits of d. Hilbert preserves locality strictly better than Morton
    (every curve step is a unit grid step, so a bucket's cells are 4
    CONNECTED quadrant fragments vs Z-order's 2 disconnected stripes);
    comparing the two queries' min/max spans IS the measurement a
    table-format layout debate needs (Delta/Iceberg both offer the
    choice). The key is the canonical xy2d bit walk — 8 unrolled
    rounds of d += s²·((3rx) xor ry) + quadrant rotation — pure
    integer bit algebra inside whole-stage codegen.

    Exactness: everything is BIGINT bit arithmetic (two's-complement &
    behaves identically on the briefly-negative reflected coordinates
    in both engines); the oracle unrolls the identical ladder. One
    scan + one hash agg — the 100 TB story is the same as Z-order:
    the key feeds repartitionByRange at write time, this query is the
    one-scan planning pass.
    """
    day = _order_day()
    cur = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        day.alias("dy"),
        F.lit(0).cast("bigint").alias("d"),
        (F.col("o_custkey").bitwiseAND(255)).alias("x"),
        day.bitwiseAND(255).alias("y"),
    )
    for s in (128, 64, 32, 16, 8, 4, 2, 1):
        cur = cur.select(
            "ck",
            "dy",
            F.expr(
                f"d + {s * s} * ((3 * (CASE WHEN (x & {s}) > 0"
                " THEN 1 ELSE 0 END))"
                f" ^ (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END))"
            ).alias("d"),
            F.expr(
                f"CASE WHEN (y & {s}) > 0 THEN x"
                f" WHEN (x & {s}) > 0 THEN {s} - 1 - y"
                " ELSE y END"
            ).alias("x"),
            F.expr(
                f"CASE WHEN (y & {s}) > 0 THEN y"
                f" WHEN (x & {s}) > 0 THEN {s} - 1 - x"
                " ELSE x END"
            ).alias("y"),
        )
    return _bucket_extents(cur, F.shiftright("d", 8).alias("hbucket"))


# Shannon order-0 entropy bound per categorical column. ln terms are
# e12-floor-quantized per DISTINCT value (shared-verbatim trees), then
# count-weighted and decimal-summed — the playbook ln-sum device. The
# ln(2) divisor is an E-NOTATION literal (decimal-point literals parse
# as DECIMAL in DuckDB and double-round; E-notation parses straight to
# the identical double in both engines).
_LN2 = "6.931471805599453e-01"
_ENT_LN_E12 = (
    "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)"
)
# r13: the weighted ln-sum {s} (~6.6e17 at sf0.01) is past 2^53, so
# callers pass it pre-converted through the per-engine d53 split as
# {sconv}; lnn*n stays an IEEE product of exact small doubles.
_ENT_H_MILLI = (
    "CAST(floor((CAST({lnn} AS DOUBLE) * CAST({n} AS DOUBLE)"
    " - {sconv})"
    f" / (CAST({{n}} AS DOUBLE) * {_LN2} * 1e12) * 1000 + 0.5) AS BIGINT)"
)


def _entropy_sql(table: str, col: str) -> str:
    ln_c = _ENT_LN_E12.format(x="cnt")
    return f"""
    SELECT '{table}' AS tbl, '{col}' AS col,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS ndv,
           CAST(8 * sum(cnt * len) AS BIGINT) AS plain_bits,
           sum(CAST(cnt AS DECIMAL(38,0)) * {ln_c}) AS s_clnc
    FROM (SELECT {col} AS v, length({col}) AS len, count(*) AS cnt
          FROM {table} GROUP BY 1, 2)
    """


@query(
    "storage_entropy_compression_bound",
    oracle=f"""
    WITH stats AS (
        {" UNION ALL ".join(_entropy_sql(t, c) for t, c in _DICT_COLS)}
    ), h AS (
        SELECT tbl, col, n_rows, ndv, plain_bits,
               {_ENT_H_MILLI.format(lnn=_ENT_LN_E12.format(x="n_rows"), n="n_rows", sconv=sql_d53("s_clnc"))}
                   AS h0_milli_bits
        FROM stats
    )
    SELECT tbl, col, n_rows, ndv, plain_bits, h0_milli_bits,
           CAST(n_rows * h0_milli_bits // 1000 AS BIGINT) AS entropy_bound_bits,
           CAST((2 * 10000 * (plain_bits - n_rows * h0_milli_bits // 1000)
                 + plain_bits) // (2 * plain_bits) AS BIGINT) AS savings_bp
    FROM h
    """,
)
def storage_entropy_compression_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 Shannon entropy bound per categorical column — the
    information-theoretic floor any entropy coder (parquet's
    dictionary+RLE+zstd stack included) is graded against: H0 =
    log2(n) − (1/n)·Σ c_i·log2(c_i) in milli-bits per value, the
    resulting per-column lower bound in total bits, and the savings
    ceiling vs plain 8·length encoding. Completes the storage advisory
    family (dictionary advisor = fixed-width index cost,
    RLE audit = run structure, Gorilla = timestamp deltas, bloom
    sizing = membership): the same six columns, now with the bound the
    other encodings are chasing.

    Exactness: value counts are exact integers from one hash-agg per
    column; each ln(count) is floor-quantized at e12 from a
    shared-verbatim tree, weighted by the exact count, and summed as
    DECIMAL(38,0) (order-free); the final H tree divides by an
    E-notation ln(2) literal and floor-quantizes at milli-bit grain.
    entropy_bound_bits and savings_bp are then pure integer arithmetic
    on already-quantized values.

    100 TB: one column-pruned scan + one hash-agg per column (the
    value histogram); the entropy fold happens on the NDV grain. High-
    NDV columns would swap the exact histogram for the counters of the
    Misra-Gries/CMS family and keep the same H formula — the decision
    rule is unchanged.
    """
    frames = []
    ln_c = _ENT_LN_E12.format(x="cnt")
    for t, c in _DICT_COLS:
        vals = (
            load(spark, sf_dir, t)
            .groupBy(F.col(c).alias("v"), F.length(c).alias("len"))
            .agg(F.count("*").alias("cnt"))
        )
        stats = vals.agg(
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("ndv"),
            (8 * F.sum(F.col("cnt") * F.col("len"))).cast("bigint").alias("plain_bits"),
            F.sum(F.col("cnt").cast("decimal(38,0)") * F.expr(ln_c)).alias("s_clnc"),
        )
        frames.append(
            stats.select(
                F.lit(t).alias("tbl"),
                F.lit(c).alias("col"),
                "n_rows",
                "ndv",
                "plain_bits",
                F.expr(
                    _ENT_H_MILLI.format(
                        lnn=_ENT_LN_E12.format(x="n_rows"),
                        n="n_rows",
                        sconv=d53("s_clnc"),
                    )
                ).alias("h0_milli_bits"),
            )
        )
    allc = reduce(lambda a, b: a.unionByName(b), frames)
    return allc.select(
        "tbl",
        "col",
        "n_rows",
        "ndv",
        "plain_bits",
        "h0_milli_bits",
        F.expr(
            "CAST(n_rows * h0_milli_bits DIV 1000 AS BIGINT)"
        ).alias("entropy_bound_bits"),
        F.expr(
            "CAST((2 * 10000 * (plain_bits - n_rows * h0_milli_bits DIV 1000)"
            " + plain_bits) DIV (2 * plain_bits) AS BIGINT)"
        ).alias("savings_bp"),
    )


ZM_PAGE_ROWS = 4096  # simulated row-group size
ZM_LO = "DATE '1997-03-01'"
ZM_HI = "DATE '1997-04-01'"  # predicate: shipdate in March 1997


def _zm_leg_sql(layout: str, order_by: str) -> str:
    return f"""
    SELECT '{layout}' AS layout, n_pages, pages_kept,
           CAST((2 * 10000 * (n_pages - pages_kept) + n_pages)
                // (2 * n_pages) AS BIGINT) AS skip_bp,
           rows_in_kept_pages, rows_matched,
           CAST((2 * 10000 * (rows_in_kept_pages - rows_matched)
                 + rows_in_kept_pages)
                // (2 * rows_in_kept_pages) AS BIGINT) AS scan_waste_bp
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS n_pages,
               CAST(count(*) FILTER (mn < {ZM_HI} AND mx >= {ZM_LO})
                    AS BIGINT) AS pages_kept,
               CAST(coalesce(sum(nr) FILTER (mn < {ZM_HI} AND mx >= {ZM_LO}),
                             0) AS BIGINT) AS rows_in_kept_pages,
               CAST(coalesce(sum(nm), 0) AS BIGINT) AS rows_matched
        FROM (
            SELECT pg, min(l_shipdate) AS mn, max(l_shipdate) AS mx,
                   count(*) AS nr,
                   count(*) FILTER (l_shipdate >= {ZM_LO}
                                    AND l_shipdate < {ZM_HI}) AS nm
            FROM (
                SELECT l_shipdate,
                       (row_number() OVER (ORDER BY {order_by}) - 1)
                           // {ZM_PAGE_ROWS} AS pg
                FROM lineitem
            ) GROUP BY pg
        )
    )
    """


@query(
    "storage_zonemap_skipping_audit",
    oracle=f"""
    {_zm_leg_sql('natural', 'l_orderkey, l_linenumber')}
    UNION ALL
    {_zm_leg_sql('shipdate_sorted', 'l_shipdate, l_orderkey, l_linenumber')}
    """,
)
def storage_zonemap_skipping_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max row-group statistics) page-skipping audit —
    the mechanism behind parquet row-group pruning and every
    warehouse's block-skipping indexes, measured end-to-end for one
    predicate (shipdate in March 1997) under two physical layouts:
    the natural (l_orderkey, l_linenumber) insert order, where the
    predicate's rows smear across nearly every 4096-row page, and the
    shipdate-sorted layout, where they pack into a handful. Reports
    pages skipped and scan waste (rows read in surviving pages that
    don't match) in basis points for each layout — the exact
    before/after economics that justify the layout family's
    zorder/Hilbert clustering keys: sorting by the predicate column
    turns a ~0% skip rate into ~99%+.

    All counts are exact integers; page ids come from fully tie-broken
    row_numbers over each candidate layout, so both engines page
    identically. The two legs are independent lineages (one scan
    each, column-pruned to one date + the order keys).

    100 TB (r9, plan-lint R6): neither leg's row numbering is a
    single-partition window any more — each layout's leading sort
    column yields a prefix shard (the 65536-key l_orderkey block for
    the natural layout; the ship DATE itself for the sorted layout),
    so the prefix-sharded rank device (functions/ranks.py) numbers
    rows with per-shard windows + broadcast offsets, bit-identical to
    the global row_number. The audited quantity is the SCAN-side term
    a layout optimizer minimizes; the audit itself is exactly the
    cost OPTIMIZE ZORDER pays, run at sample scale to pick the winner
    before committing the full rewrite.
    """
    from leadsight_sales_agent_spark.functions.ranks import sharded_prefix

    lo, hi = F.lit("1997-03-01").cast("date"), F.lit("1997-04-01").cast("date")

    def leg(layout: str, shard_expr: F.Column, order_cols: list) -> DataFrame:
        base = (
            load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber", "l_shipdate")
            .withColumn("_shard", shard_expr)
        )
        pages = (
            sharded_prefix(base, "_shard", order_cols, rank_out="_rnk")
            .withColumn(
                "pg",
                ((F.col("_rnk") - 1) / ZM_PAGE_ROWS).cast("long"),
            )
            .groupBy("pg")
            .agg(
                F.min("l_shipdate").alias("mn"),
                F.max("l_shipdate").alias("mx"),
                F.count("*").alias("nr"),
                F.count_if(
                    (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
                ).alias("nm"),
            )
        )
        kept = (F.col("mn") < hi) & (F.col("mx") >= lo)
        return pages.agg(
            F.count("*").cast("bigint").alias("n_pages"),
            F.count_if(kept).cast("bigint").alias("pages_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("nr"))), F.lit(0))
            .cast("bigint")
            .alias("rows_in_kept_pages"),
            F.coalesce(F.sum("nm"), F.lit(0)).cast("bigint").alias("rows_matched"),
        ).select(
            F.lit(layout).alias("layout"),
            "n_pages",
            "pages_kept",
            F.expr(
                "CAST((2 * 10000 * (n_pages - pages_kept) + n_pages)"
                " DIV nullif(2 * n_pages, 0) AS BIGINT)"
            ).alias("skip_bp"),
            "rows_in_kept_pages",
            "rows_matched",
            F.expr(
                "CAST((2 * 10000 * (rows_in_kept_pages - rows_matched)"
                " + rows_in_kept_pages)"
                " DIV nullif(2 * rows_in_kept_pages, 0)"
                " AS BIGINT)"
            ).alias("scan_waste_bp"),
        )

    return leg(
        "natural",
        F.expr(f"l_orderkey DIV {RLE_SHARD_KEYS}"),
        ["l_orderkey", "l_linenumber"],
    ).unionAll(
        leg(
            "shipdate_sorted",
            F.col("l_shipdate"),
            ["l_shipdate", "l_orderkey", "l_linenumber"],
        )
    )


_SK_CANDIDATES = [
    ("natural", "o_orderkey"),
    ("by_date", "o_orderdate, o_orderkey"),
    ("by_priority", "o_orderpriority, o_orderdate, o_orderkey"),
]
_SK_COLS = [
    ("runs_status", "o_orderstatus"),
    ("runs_priority", "o_orderpriority"),
    ("runs_month", "strftime(o_orderdate, '%Y-%m')"),
    ("runs_custkey", "CAST(o_custkey AS STRING)"),
]


def _sk_leg_sql(layout: str, order_by: str) -> str:
    runs = ",\n               ".join(
        f"CAST(count(*) FILTER (pv_{a} IS NULL OR pv_{a} <> v_{a})"
        f" AS BIGINT) AS {a}"
        for a, _ in _SK_COLS
    )
    vals = ",\n               ".join(
        f"{e} AS v_{a}, lag({e}) OVER (ORDER BY {order_by}) AS pv_{a}"
        for a, e in _SK_COLS
    )
    return f"""
    SELECT '{layout}' AS layout, {runs}
    FROM (SELECT {vals} FROM orders WHERE o_orderdate IS NOT NULL)
    """


@query(
    "storage_sort_key_advisor",
    oracle=f"""
    WITH legs AS (
        {" UNION ALL ".join(_sk_leg_sql(n, o) for n, o in _SK_CANDIDATES)}
    ), totaled AS (
        SELECT layout, runs_status, runs_priority, runs_month, runs_custkey,
               runs_status + runs_priority + runs_month + runs_custkey
                   AS total_runs
        FROM legs
    )
    SELECT layout, runs_status, runs_priority, runs_month, runs_custkey,
           CAST(total_runs AS BIGINT) AS total_runs,
           CAST(CASE WHEN row_number() OVER (ORDER BY total_runs, layout) = 1
                THEN 1 ELSE 0 END AS INTEGER) AS best
    FROM totaled
    """,
)
def storage_sort_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-key advisor: rank three candidate physical layouts of
    orders (insert order, date-clustered, priority-then-date) by the
    TOTAL RLE run count across four frequently-filtered columns — the
    decision OPTIMIZE/CLUSTER BY actually makes, computed from the
    same run-counting primitive as storage_rle_sortedness_audit but
    ACROSS candidate keys, so the output is a ranked recommendation
    (best flag, deterministic tie-break) rather than a single audit.
    Fewer total runs = better dictionary+RLE compression AND better
    zone-map pruning for every audited column at once; the winner
    feeds the zorder/Hilbert/zonemap family as the chosen key.

    Exact: runs are integer lag-inequality counts under fully
    tie-broken total orders; the winner is an integer argmin.

    r13 scale shape (guide §2.2/§2.5; found by the repaired R6
    pre-checkpoint lint pass): each candidate used to be ONE
    unpartitioned Window.orderBy over the whole table — three global
    sorts funnelled through a single task. Each leg now uses the
    sibling audit's shard device (storage_rle_sortedness_audit): the
    layout's LEADING sort keys (or the o_orderkey block grid for the
    natural layout) partition the window, within-partition run starts
    count in parallel, and the per-partition (first, last) value grid
    — aggregated, boundary-ordered, tiny — subtracts one merge per
    boundary whose adjacent values are equal. Total runs per column is
    identically Σ within-starts − Σ merges because consecutive
    partitions tile the global order: a partition-first row is a
    genuine run start iff it differs from the previous partition's
    last value. All four audited columns are non-null (TPC-H
    contract + the o_orderdate filter), so the lag-inequality and the
    boundary equality are two-valued — no null seam.
    """
    frames = []
    spark_cols = [
        ("runs_status", F.col("o_orderstatus")),
        ("runs_priority", F.col("o_orderpriority")),
        ("runs_month", F.date_format("o_orderdate", "yyyy-MM")),
        ("runs_custkey", F.col("o_custkey").cast("string")),
    ]
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
    shard_specs = {
        # partition columns = the layout's leading sort keys (block
        # grid for the natural key), named here in grid order
        "natural": [("pk_blk", F.expr(f"o_orderkey DIV {RLE_SHARD_KEYS}"))],
        "by_date": [("pk_date", F.col("o_orderdate"))],
        "by_priority": [
            ("pk_prio", F.col("o_orderpriority")),
            ("pk_date", F.col("o_orderdate")),
        ],
    }
    for layout, parts in shard_specs.items():
        pnames = [n for n, _ in parts]
        base = orders.select(
            *[c.alias(n) for n, c in parts],
            "o_orderkey",
            *[c.alias(f"v_{a}") for a, c in spark_cols],
        )
        wb = Window.partitionBy(*pnames).orderBy("o_orderkey")
        proj = base.select(
            "*",
            *[F.lag(f"v_{a}").over(wb).alias(f"pv_{a}") for a, _ in spark_cols],
        )
        within = proj.agg(
            *[
                F.count_if(
                    F.col(f"pv_{a}").isNull()
                    | (F.col(f"pv_{a}") != F.col(f"v_{a}"))
                )
                .cast("bigint")
                .alias(f"w_{a}")
                for a, _ in spark_cols
            ]
        )
        grid = base.groupBy(*pnames).agg(
            *[F.min_by(f"v_{a}", "o_orderkey").alias(f"first_{a}") for a, _ in spark_cols],
            *[F.max_by(f"v_{a}", "o_orderkey").alias(f"last_{a}") for a, _ in spark_cols],
        )
        wg = Window.orderBy(*pnames)
        merges = grid.select(
            *[
                F.lag(f"last_{a}").over(wg).alias(f"plast_{a}")
                for a, _ in spark_cols
            ],
            *[F.col(f"first_{a}") for a, _ in spark_cols],
        ).agg(
            *[
                F.count_if(
                    F.col(f"plast_{a}").isNotNull()
                    & (F.col(f"plast_{a}") == F.col(f"first_{a}"))
                )
                .cast("bigint")
                .alias(f"m_{a}")
                for a, _ in spark_cols
            ]
        )
        frames.append(
            within.crossJoin(F.broadcast(merges)).select(
                F.lit(layout).alias("layout"),
                *[
                    (F.col(f"w_{a}") - F.col(f"m_{a}")).cast("bigint").alias(a)
                    for a, _ in spark_cols
                ],
            )
        )
    legs = reduce(lambda a, b: a.unionByName(b), frames)
    totaled = legs.withColumn(
        "total_runs",
        (
            F.col("runs_status")
            + F.col("runs_priority")
            + F.col("runs_month")
            + F.col("runs_custkey")
        ).cast("bigint"),
    # ckpt-grain: bounded — one row per candidate layout (4)
    ).localCheckpoint(eager=False)
    best = (
        totaled.orderBy("total_runs", "layout")
        .limit(1)
        .select(F.col("layout").alias("best_layout"))
    )
    return totaled.crossJoin(F.broadcast(best)).select(
        "layout",
        "runs_status",
        "runs_priority",
        "runs_month",
        "runs_custkey",
        "total_runs",
        F.when(F.col("layout") == F.col("best_layout"), 1)
        .otherwise(0)
        .cast("int")
        .alias("best"),
    )
