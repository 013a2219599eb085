"""Deterministic sampling / dataset-mixture operators over ``documents``.

A 100 TB training-data pipeline samples constantly — to subset corpora,
to hold out eval splits, to rebalance source mixtures — and it must do
so REPRODUCIBLY: the same row must land in the same split on every run,
on any cluster size, with no RNG state. The reference has no sampling
(its whole input fits one spreadsheet), so this family generalizes its
deterministic row-processing contract (app.py:290 processes every row
exactly once, in order) to probabilistic-scale subsetting.

Technique: hash-threshold sampling. ``md5(salt || key)`` is uniform on
[0, 16^32); comparing the first 8 hex chars against a literal hex
threshold keeps a row with probability threshold/2^32. Lowercase hex
compares lexicographically == numerically (fixed width, '0'-'9' < 'a'-'f'
in ASCII), so both engines filter on a plain string comparison — no
float conversion, no RNG, bit-identical across Spark and DuckDB.

Scale design:
- Bernoulli/stratified/split sampling is a narrow map + filter: no
  shuffle at all, embarrassingly parallel, pushdown-friendly.
- Quota (mixture) sampling needs the smallest-hash rows per source —
  a per-group top-k (one shuffle on ``source``), exactly the
  TakeOrdered/WindowGroupLimit pattern of window_topk. Hash-ordering
  makes the "random" reservoir deterministic.
- The md5 salt prefix decorrelates the operators: a doc sampled into
  the 20 % Bernoulli subset is independent of its train/test split
  (different salts → independent uniforms).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.extracts import text_tokens
from leadsight_sales_agent_spark.functions.numeric import d53, ddbl, exact_cents, sql_hex_to_long
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load


def hash_key(salt: str, col):
    """First 8 hex chars of md5(salt || key) — a deterministic uniform
    32-bit draw, identical in Spark and DuckDB (both emit lowercase
    hex over UTF-8 bytes)."""
    return F.substring(F.md5(F.concat(F.lit(salt), col.cast("string"))), 1, 8)


# 32-bit hex thresholds: P(keep) = int(threshold, 16) / 2^32.
THRESH_20PCT = "33333333"
THRESH_80PCT = "cccccccc"
THRESH_90PCT = "e6666666"

_SQL_HASH = "substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 8)"


@query(
    "sample_bernoulli_hash",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_SQL_HASH.format(salt='bern:', key='doc_id')} < '{THRESH_20PCT}'
    """,
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~20 % deterministic Bernoulli sample of documents.

    Pure map-side filter: at 100 TB this costs one scan, no shuffle,
    and the sample is stable under re-partitioning and re-runs (the
    hash depends only on the row key, never on partition or order).
    """
    docs = load(spark, sf_dir, "documents")
    return docs.filter(
        hash_key("bern:", F.col("doc_id")) < F.lit(THRESH_20PCT)
    ).select("doc_id", "lang", "source")


# Per-language keep rates for the stratified sample: downsample the
# over-represented language (en ≈ 44 % of the corpus) hard, keep the
# tail languages at higher rates — the classic corpus-rebalancing move.
STRATA_THRESHOLDS = {
    "en": THRESH_20PCT,  # 20 %
    "de": THRESH_80PCT,  # 80 %
    "fr": THRESH_80PCT,  # 80 %
    "es": THRESH_80PCT,  # 80 %
    # any other language (zh here): 90 %
}
_DEFAULT_STRATUM_THRESH = THRESH_90PCT


@query(
    "sample_stratified_lang",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_SQL_HASH.format(salt='strat:', key='doc_id')} <
          CASE lang
               WHEN 'en' THEN '{THRESH_20PCT}'
               WHEN 'de' THEN '{THRESH_80PCT}'
               WHEN 'fr' THEN '{THRESH_80PCT}'
               WHEN 'es' THEN '{THRESH_80PCT}'
               ELSE '{THRESH_90PCT}'
          END
    """,
)
def sample_stratified_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: per-language keep rates via one hash compare.

    Same zero-shuffle shape as the Bernoulli sample — the stratum only
    changes the threshold literal, so rebalancing a 100 TB corpus is
    still a single scan. (Spark's ``sampleBy`` is the built-in
    equivalent but is seeded-RNG, not key-deterministic, so it cannot
    be oracle-checked nor reproduced across engines.)
    """
    docs = load(spark, sf_dir, "documents")
    thresh = F.when(F.lit(False), F.lit(""))
    for lang, t in STRATA_THRESHOLDS.items():
        thresh = thresh.when(F.col("lang") == lang, F.lit(t))
    thresh = thresh.otherwise(F.lit(_DEFAULT_STRATUM_THRESH))
    return docs.filter(hash_key("strat:", F.col("doc_id")) < thresh).select(
        "doc_id", "lang"
    )


def _doc_split() -> Column:
    """``split``: 'train', 'valid' or 'test' (80/10/10) by the hash
    of doc_id, a pure function of the row key."""
    hk = hash_key("split:", F.col("doc_id"))
    return (
        F.when(hk < F.lit(THRESH_80PCT), "train")
        .when(hk < F.lit(THRESH_90PCT), "valid")
        .otherwise("test")
        .alias("split")
    )


@query(
    "sample_train_valid_test_split",
    oracle=f"""
    WITH h AS (
        SELECT n_chars,
               {_SQL_HASH.format(salt='split:', key='doc_id')} AS hk
        FROM documents
    )
    SELECT CASE WHEN hk < '{THRESH_80PCT}' THEN 'train'
                WHEN hk < '{THRESH_90PCT}' THEN 'valid'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM h
    GROUP BY 1
    """,
)
def sample_train_valid_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/valid/test split assignment + per-split stats.

    The split column is a pure function of the row key, so a row can
    never migrate between splits across runs or cluster layouts — the
    property that actually matters for eval-set hygiene. One scan +
    one 3-group hash-agg (map-side partials, trivially skew-free).
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(_doc_split(), "n_chars")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


# Per-source output quotas for the weighted mixture: sources src0/src1
# are upweighted (20 docs each), every other source contributes 5.
MIXTURE_UPWEIGHTED = ("src0", "src1")
MIXTURE_QUOTA_HIGH = 20
MIXTURE_QUOTA_LOW = 5


@query(
    "sample_mixture_weighted_sources",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_SQL_HASH.format(salt='mix:', key='doc_id')}, doc_id
               ) AS rk
        FROM documents
    )
    SELECT doc_id, source
    FROM ranked
    WHERE rk <= CASE WHEN source IN ('src0', 'src1')
                     THEN {MIXTURE_QUOTA_HIGH} ELSE {MIXTURE_QUOTA_LOW} END
    """,
)
def sample_mixture_weighted_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixture: per-source quotas, smallest-hash wins.

    Builds a training mixture by drawing a fixed quota from each source
    (src0/src1 upweighted 4×). Taking the quota smallest hash values
    per source is an exact deterministic reservoir sample — uniform
    over each source's rows, reproducible everywhere. Physically a
    per-group top-k: one shuffle on ``source``, and Spark's
    WindowGroupLimit pushes the quota below the sort so only ~quota
    rows per source survive the exchange (same gated plan shape as
    window_topk_orders_per_customer). The doc_id tiebreak makes the
    ordering total, so the result is hash-stable even if two hash
    prefixes collide.
    """
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        hash_key("mix:", F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    quota = F.when(
        F.col("source").isin(*MIXTURE_UPWEIGHTED), MIXTURE_QUOTA_HIGH
    ).otherwise(MIXTURE_QUOTA_LOW)
    return (
        docs.withColumn("rk", F.row_number().over(w))
        # the constant bound first: a literal rank predicate is what the
        # WindowGroupLimit rule needs to push a per-group top-20 below
        # the shuffle; the per-source CASE quota (non-literal, invisible
        # to the rule) then trims the survivors.
        .filter(F.col("rk") <= MIXTURE_QUOTA_HIGH)
        .filter(F.col("rk") <= quota)
        .select("doc_id", "source")
    )


# -- Length-bucketed batching -------------------------------------------------

LENGTH_BUCKET_WIDTH = 100  # chars per bucket
BATCH_SIZE = 16  # docs per training batch


@query(
    "batch_by_length_buckets",
    oracle=f"""
    WITH ranked AS (
        SELECT n_chars,
               n_chars // {LENGTH_BUCKET_WIDTH} AS bucket,
               row_number() OVER (
                   PARTITION BY n_chars // {LENGTH_BUCKET_WIDTH}
                   ORDER BY doc_id
               ) AS rk
        FROM documents
    )
    SELECT bucket,
           CAST((rk - 1) // {BATCH_SIZE} AS INTEGER) AS batch_id,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM ranked
    GROUP BY 1, 2
    """,
)
def batch_by_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: group documents into
    ~equal-length buckets (100-char bands), then pack each bucket into
    fixed-size batches of 16 in deterministic doc_id order — the
    padding-minimizing batching strategy of every sequence-model
    training loader (batch max-length ≈ batch min-length ⇒ little
    wasted padding).

    One shuffle on the bucket key; row_number within bucket needs the
    bucket sorted, which is exactly the WindowGroupLimit-style
    per-group sort Spark already does for top-k — at 100 TB buckets
    are further split by a (bucket, hash-range) compound key if a
    single length band outgrows a partition. Output is per-batch
    stats, verifying both the assignment and the packing arithmetic.
    """
    docs = load(spark, sf_dir, "documents")
    bucket = F.floor(F.col("n_chars") / LENGTH_BUCKET_WIDTH)
    return (
        docs.select("doc_id", "n_chars", bucket.alias("bucket"))
        .withColumn("rk", F.row_number().over(Window.partitionBy("bucket").orderBy("doc_id")))
        .groupBy(
            "bucket",
            (((F.col("rk") - 1) / BATCH_SIZE).cast("int")).alias("batch_id"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


# -- Token-budget mixture allocation -----------------------------------------

TOKEN_BUDGET_TOTAL = 10_000  # global training-mix token budget
MIXTURE_WEIGHT_HIGH = 3  # upweighted sources (same set as the doc-quota mix)
MIXTURE_WEIGHT_LOW = 1


@query(
    "mixture_token_budget_allocation",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               len(string_split_regex(trim(text), '{chr(92)}s+')) AS n_tok,
               {_SQL_HASH.format(salt='mixtok:', key='doc_id')} AS h
        FROM documents
    ), w AS (
        SELECT source,
               CASE WHEN source IN ('{MIXTURE_UPWEIGHTED[0]}',
                                    '{MIXTURE_UPWEIGHTED[1]}')
                    THEN {MIXTURE_WEIGHT_HIGH}
                    ELSE {MIXTURE_WEIGHT_LOW} END AS weight
        FROM (SELECT DISTINCT source FROM tok)
    ), tot AS (
        SELECT sum(weight) AS tw FROM w
    ), base AS (
        SELECT w.source, w.weight,
               ({TOKEN_BUDGET_TOTAL} * w.weight) // t.tw AS floor_budget,
               ({TOKEN_BUDGET_TOTAL} * w.weight) % t.tw AS rem
        FROM w, tot t
    ), ranked AS (
        SELECT source, weight, floor_budget,
               row_number() OVER (ORDER BY rem DESC, source) AS rr,
               {TOKEN_BUDGET_TOTAL} - sum(floor_budget) OVER () AS extra
        FROM base
    ), budgets AS (
        SELECT source, weight,
               floor_budget + CASE WHEN rr <= extra THEN 1 ELSE 0 END
                   AS token_budget
        FROM ranked
    ), sel AS (
        SELECT t.doc_id, t.source, t.n_tok, b.token_budget,
               sum(t.n_tok) OVER (PARTITION BY t.source
                                  ORDER BY t.h, t.doc_id) AS cum
        FROM tok t JOIN budgets b ON t.source = b.source
    ), used AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tokens_used
        FROM sel WHERE cum <= token_budget
        GROUP BY 1
    )
    SELECT b.source, CAST(b.weight AS INTEGER) AS weight,
           CAST(b.token_budget AS BIGINT) AS token_budget,
           COALESCE(u.n_docs, 0) AS n_docs,
           COALESCE(u.tokens_used, 0) AS tokens_used
    FROM budgets b LEFT JOIN used u ON b.source = u.source
    """,
)
def mixture_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget dataset mixing — the allocation a real training mix
    runs on (docs are not the unit that matters; TOKENS are): a global
    token budget apportions across sources by weight with
    largest-remainder rounding (exact integer arithmetic, sums to the
    budget by construction), then each source fills its allocation
    greedily in salted-hash order — a doc is selected iff its running
    token prefix-sum stays within the source budget (pure prefix rule:
    an overflowing doc is skipped and selection stops, so membership
    is a deterministic function of the budget table and the hash
    order, reproducible on any cluster).

    Scale: the weight/budget tables are source-grain (tiny — the one
    unpartitioned row_number runs over #sources rows on bounded data,
    not corpus rows) and broadcast into the corpus-grain prefix-sum
    window, which partitions by source exactly like the doc-quota
    mixture. Output is the per-source allocation report: weight,
    apportioned budget, docs and tokens actually packed.
    """
    budgets, sel = mixture_budgets_and_selection(
        load(spark, sf_dir, "documents")
    )
    used = (
        sel.filter(F.col("cum") <= F.col("token_budget"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("tokens_used"),
        )
    )
    return budgets.join(used, "source", "left").select(
        "source",
        F.col("weight").cast("int").alias("weight"),
        F.col("token_budget").cast("bigint").alias("token_budget"),
        F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
        F.coalesce(F.col("tokens_used"), F.lit(0)).cast("bigint").alias("tokens_used"),
    )


def mixture_budgets_and_selection(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reusable core of mixture_token_budget_allocation over any
    documents frame (doc_id + source + text): returns (budgets, sel) —
    the per-source largest-remainder budget table and the corpus-grain
    selection frame (doc_id, source, n_tok, token_budget, cum); a doc
    is IN the mix iff cum <= token_budget. Also composed downstream of
    curation + dedup by pipeline_full_release."""
    tok = docs.select(
        "doc_id",
        "source",
        F.size(text_tokens()).alias("n_tok"),
        hash_key("mixtok:", F.col("doc_id")).alias("h"),
    )
    w = (
        tok.select("source")
        .distinct()
        .withColumn(
            "weight",
            F.when(
                F.col("source").isin(*MIXTURE_UPWEIGHTED),
                F.lit(MIXTURE_WEIGHT_HIGH),
            ).otherwise(F.lit(MIXTURE_WEIGHT_LOW)),
        )
    )
    tot = w.agg(F.sum("weight").alias("tw"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "source",
        "weight",
        F.expr(f"({TOKEN_BUDGET_TOTAL} * weight) DIV tw").alias("floor_budget"),
        F.expr(f"({TOKEN_BUDGET_TOTAL} * weight) % tw").alias("rem"),
    )
    wr = Window.orderBy(F.desc("rem"), F.asc("source"))
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    budgets = (
        base.withColumn("rr", F.row_number().over(wr))
        .withColumn(
            "extra", F.lit(TOKEN_BUDGET_TOTAL) - F.sum("floor_budget").over(wall)
        )
        .select(
            "source",
            "weight",
            (
                F.col("floor_budget")
                + F.when(F.col("rr") <= F.col("extra"), 1).otherwise(0)
            ).alias("token_budget"),
        )
    )
    ws = Window.partitionBy("source").orderBy("h", "doc_id")
    sel = tok.join(F.broadcast(budgets), "source").withColumn(
        "cum", F.sum("n_tok").over(ws)
    )
    return budgets, sel


# -- Sequence packing --------------------------------------------------------

PACK_BUDGET = 512  # tokens per packed training sequence


@query(
    "pack_sequences_token_budget",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\\s+')) AS n_tok,
               {_SQL_HASH.format(salt='pack:', key='doc_id')} AS h
        FROM documents
    ), s AS (
        SELECT substr(h, 1, 1) AS shard, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY substr(h, 1, 1)
                                ORDER BY h, doc_id) AS cum
        FROM t
    )
    SELECT shard,
           CAST((cum - n_tok) // {{B}} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           count(*) FILTER (WHERE (cum - 1) // {{B}} > (cum - n_tok) // {{B}})
               AS n_split_docs,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM s GROUP BY 1, 2
    """.format(B=PACK_BUDGET),
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the missing step between
    ``batch_by_length_buckets`` and a dataloader: concatenate documents
    in a deterministic pseudo-random order and chop the token stream
    into fixed PACK_BUDGET-token training sequences (the GPT-style
    pack-and-chop that wastes zero tokens to padding; a document whose
    span crosses a boundary continues in the next sequence). A doc's
    sequence is pure arithmetic on the running token offset — the same
    start-offset prefix-sum device as compaction_bin_packing — so the
    packing is reproducible on any cluster layout with no RNG and no
    sequential driver loop.

    Order is hash-order (salted md5 of doc_id), which IS the shuffle
    step of a training pipeline: consecutive corpus documents land in
    different sequences deterministically. Scale: packing runs
    independently in 16 shards keyed by the hash's first hex char —
    each shard is one window partition, so the prefix sum never needs
    a global total order (the single-partition window that would
    bottleneck a 100 TB corpus); sequence identity is (shard, seq_id).
    Output is the per-sequence manifest a writer stage would execute:
    doc count, token sum over docs STARTING in the sequence, how many
    of them straddle into the next sequence, and the id range.
    """
    return pack_manifest(load(spark, sf_dir, "documents"))


def pack_manifest(docs: DataFrame) -> DataFrame:
    """Shard-parallel pack-and-chop manifest over any documents frame
    (doc_id + text) — the reusable core of pack_sequences_token_budget,
    also composed downstream of curation by pipeline_curate_and_pack."""
    n_tok = F.size(text_tokens())
    h = hash_key("pack:", F.col("doc_id"))
    t = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        h.alias("h"),
        F.substring(h, 1, 1).alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    s = t.withColumn("cum", F.sum("n_tok").over(w))
    start_seq = F.floor((F.col("cum") - F.col("n_tok")) / PACK_BUDGET)
    end_seq = F.floor((F.col("cum") - 1) / PACK_BUDGET)
    return (
        s.select(
            "shard",
            "doc_id",
            "n_tok",
            start_seq.cast("bigint").alias("seq_id"),
            (end_seq > start_seq).alias("splits"),
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.count_if("splits").alias("n_split_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# -- Importance (quality-weighted) sampling ----------------------------------

PERMILLE_UNIT = 4294967  # floor(2^32 / 1000): permille → 32-bit threshold


@query(
    "sample_importance_by_length",
    oracle=f"""
    WITH rated AS (
        SELECT doc_id, n_chars,
               CAST(least(999, n_chars * 2) AS INTEGER) AS rate_permille
        FROM documents
    )
    SELECT doc_id, n_chars, rate_permille
    FROM rated
    WHERE {_SQL_HASH.format(salt='imp:', key='doc_id')} <
          lower(lpad(to_hex(CAST(rate_permille AS BIGINT)
                            * {PERMILLE_UNIT}), 8, '0'))
    """,
)
def sample_importance_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with a DATA-DEPENDENT keep rate: longer
    documents kept with higher probability (rate = min(99.9 %,
    n_chars·0.2 %)) — the upweight-by-quality move of curriculum /
    quality-filtered training mixes, here with length as the
    quality proxy.

    The per-row rate stays in INTEGER permille and becomes a hex
    threshold via `hex()`/`to_hex()` (lowercased — Spark and DuckDB
    both emit uppercase, md5 emits lowercase), so the keep decision is
    still a pure string comparison: no float crosses an engine
    boundary even though the rate varies per row. Same zero-shuffle
    map-filter shape as the fixed-rate samples.
    """
    docs = load(spark, sf_dir, "documents")
    rate = F.least(F.lit(999), F.col("n_chars") * 2).cast("int")
    thresh = F.lower(
        F.lpad(F.hex(rate.cast("bigint") * PERMILLE_UNIT), 8, "0")
    )
    return (
        docs.select("doc_id", "n_chars", rate.alias("rate_permille"))
        .withColumn("_t", thresh)
        .filter(hash_key("imp:", F.col("doc_id")) < F.col("_t"))
        .drop("_t")
    )


@query(
    "leakage_check_splits",
    oracle=f"""
    WITH a AS (
        SELECT doc_id,
               md5(lower(substr(trim(text), 1, 40))) AS h,
               CASE WHEN {_SQL_HASH.format(salt='split:', key='doc_id')}
                         < '{THRESH_80PCT}' THEN 'train'
                    WHEN {_SQL_HASH.format(salt='split:', key='doc_id')}
                         < '{THRESH_90PCT}' THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    ), train_prints AS (
        SELECT DISTINCT h FROM a WHERE split = 'train'
    )
    SELECT a.split AS eval_split,
           count(*) AS n_leaked_docs,
           count(DISTINCT a.h) AS n_leaked_contents
    FROM a JOIN train_prints t ON a.h = t.h
    WHERE a.split <> 'train'
    GROUP BY 1
    """,
)
def leakage_check_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination check: eval-split documents whose
    content fingerprint (md5 of the first 40 normalized chars — a
    cheap prefix near-dup key) also appears in the train split. The
    hygiene gate every training pipeline must run AFTER splitting:
    hash-based splits guarantee a ROW never crosses splits, but say
    nothing about near-identical CONTENT landing on both sides, which
    silently inflates eval scores.

    Plan: one scan assigns split + fingerprint; the train-side
    fingerprint set deduplicates, then a semi join flags eval docs
    whose print it contains. At 100 TB the train-print side is large —
    the semi join hash-partitions both sides on the fingerprint
    (no broadcast; this is the same scale shape as exact dedup). The
    fingerprint is deliberately the weakest/cheapest member of the
    near-dup family here — MinHash-LSH (neardup_minhash_lsh) is the
    thorough cross-split contamination pass, same join shape.
    """
    docs = load(spark, sf_dir, "documents")
    a = docs.select(
        F.md5(F.lower(F.substring(F.trim(F.col("text")), 1, 40))).alias("h"),
        _doc_split(),
    )
    train_prints = a.filter(F.col("split") == "train").select("h").distinct()
    ev = a.filter(F.col("split") != "train")
    return (
        ev.join(train_prints, "h", "left_semi")
        .groupBy(F.col("split").alias("eval_split"))
        .agg(
            F.count("*").alias("n_leaked_docs"),
            F.count_distinct("h").alias("n_leaked_contents"),
        )
    )


# Cross-split NEAR-dup leakage (r3 verdict, task 4): the prefix-
# fingerprint gate above catches exact/prefix-identical contamination;
# these two queries are the thorough token-level pass its docstring
# promises. Bounded exact-Jaccard anchor (oracle-checked) + unbounded
# MinHash-banded scale path (rows-only; pinned equal to the anchor on
# the bounded subset in tests/test_sampling.py).
LEAKAGE_ANCHOR_BOUND = 300  # doc_id bound of the pairwise-exact anchor
LEAKAGE_JACCARD_MIN = 0.5


@query(
    "leakage_jaccard_cross_split",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, trim(text) AS t,
               CASE WHEN {_SQL_HASH.format(salt='split:', key='doc_id')}
                         < '{THRESH_80PCT}' THEN 'train'
                    WHEN {_SQL_HASH.format(salt='split:', key='doc_id')}
                         < '{THRESH_90PCT}' THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents WHERE doc_id < {LEAKAGE_ANCHOR_BOUND}
    ), tok AS (
        SELECT DISTINCT doc_id, split,
               unnest(string_split_regex(t, '\\s+')) AS token
        FROM d
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT e.split AS eval_split, e.doc_id AS doc_eval,
               tr.doc_id AS doc_train, count(*) AS n_common
        FROM tok tr JOIN tok e ON tr.token = e.token
        WHERE tr.split = 'train' AND e.split <> 'train'
        GROUP BY 1, 2, 3
    )
    SELECT i.eval_split, i.doc_eval,
           max(round(CAST(i.n_common AS DOUBLE)
                     / (se.n_tok + st.n_tok - i.n_common), 4)) AS max_jaccard
    FROM inter i
    JOIN sizes se ON i.doc_eval = se.doc_id
    JOIN sizes st ON i.doc_train = st.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (se.n_tok + st.n_tok - i.n_common)
          >= {LEAKAGE_JACCARD_MIN}
    GROUP BY 1, 2
    """,
)
def leakage_jaccard_cross_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-split contamination verdict at DOC grain: every
    valid/test document whose token Jaccard with SOME train document
    is ≥ 0.5, with the worst (max) similarity as evidence — the
    artifact a leakage gate materializes (the flagged docs are what a
    pipeline drops; this corpus's near-dup clusters make the PAIR list
    quadratic in cluster size, which is a report nobody ships). Bounded
    to doc_id < 300 for the same reason as neardup_jaccard_pairs:
    exact pairwise Jaccard is the oracle-checkable spec, the MinHash
    variant below is the unbounded scale path verified against it.

    Plan shape: one scan assigns the split (pure hash expression, no
    assignment table), token explode + distinct, the token equi-join
    restricted train×eval (pruning ~36 % of candidate pairs before the
    group-count), then a doc-grain max-reduce."""
    docs = load(spark, sf_dir, "documents").filter(
        F.col("doc_id") < LEAKAGE_ANCHOR_BOUND
    )
    tok = docs.select(
        "doc_id",
        _doc_split(),
        F.explode(F.array_distinct(text_tokens())).alias("token"),
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    tr = tok.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("doc_train"), "token"
    )
    ev = tok.filter(F.col("split") != "train").select(
        F.col("doc_id").alias("doc_eval"), F.col("split").alias("eval_split"), "token"
    )
    inter = (
        tr.join(ev, "token")
        .groupBy("eval_split", "doc_eval", "doc_train")
        .agg(F.count("*").alias("n_common"))
    )
    se = sizes.select(F.col("doc_id").alias("doc_eval"), F.col("n_tok").alias("ne"))
    st = sizes.select(F.col("doc_id").alias("doc_train"), F.col("n_tok").alias("nt"))
    jac = F.col("n_common").cast("double") / (
        F.col("ne") + F.col("nt") - F.col("n_common")
    )
    return (
        inter.join(F.broadcast(se), "doc_eval")
        .join(F.broadcast(st), "doc_train")
        .filter(jac >= LEAKAGE_JACCARD_MIN)
        .groupBy("eval_split", "doc_eval")
        .agg(F.max(F.round(jac, 4)).alias("max_jaccard"))
    )


@query("leakage_minhash_cross_split")  # probabilistic candidates → rows-only
def leakage_minhash_cross_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH cross-split contamination — the UNBOUNDED thorough
    pass over the whole corpus: every valid/test document whose token
    Jaccard with some train document is ≥ 0.5, candidate-generated by
    LSH banding so no all-pairs join ever forms. Same doc-grain output
    contract as the exact anchor above; tests pin soundness (flagged
    docs ⊆ the anchor's flagged docs on the bounded subset — the
    verify stage re-checks exact Jaccard, so no false flag can
    survive; reported max_jaccard can only under-state the anchor's)
    and ≥ 98 % doc-grain recall (deterministic xxhash64 signatures ⇒
    the pin is stable, not flaky).

    Banding is 16 bands × 2 rows (vs the near-dup path's 8×4): at the
    J = 0.5 decision boundary P(miss) = (1-0.5²)¹⁶ ≈ 1 %, vs ~33 % at
    8×4 — a decontamination gate leans recall, and the extra
    low-similarity candidates the narrow bands admit are rejected by
    the exact verify, costing compute but never correctness.

    Scale shape (the neardup_minhash_lsh pipeline, split across the
    train/eval boundary): signatures and bands computed ONCE over one
    scan — the split is a row-local expression riding the band rows;
    ONE bucket aggregation on (band_id, band_hash) emits capped
    train×eval pairs per bucket (cap 100/side — the skew guard narrow
    bands need even more than 8×4 does), a lossless integer
    length-ratio gate prunes pairs that cannot reach J ≥ 0.5, and the
    exact-Jaccard verify rejoins token-hash arrays BY ID for surviving
    candidates only (AQE broadcasts the candidate side against the
    corpus re-scan — the direction that survives 100 TB). The
    repartition before the verify is the small-bytes/heavy-compute
    defense documented in dedup.py."""
    from leadsight_sales_agent_spark.operators.dedup import (
        minhash_band_structs,
        minhash_signature_hashed,
        verify_parallelism,
    )

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        _doc_split(),
        F.array_distinct(F.transform(text_tokens(), lambda t: F.xxhash64(t))).alias("toks"),
    ).persist()  # r13 (guide §5): feeds the band pipeline AND both
    #              verify legs — tokenize+hash ran 3x per action before
    # r14: the signature MUST be materialized under its own alias
    # before the band structs index it 32 times — the fold-based
    # minhash_signature_hashed (dedup.py) is opaque to Catalyst's
    # extract-value simplification, so passing the expression inline
    # here duplicated the whole 32-slot fold once per index (measured
    # 2.5 → 9.3 s at sf0.1). An aliased column is computed once per
    # row; CollapseProject keeps multi-referenced non-cheap aliases.
    sig = base.select(
        "doc_id",
        "split",
        F.size("toks").alias("n_tok"),
        minhash_signature_hashed(F.col("toks")).alias("sig"),
    )
    bands = sig.select(
        "doc_id",
        "split",
        "n_tok",
        F.explode(
            minhash_band_structs(F.col("sig"), n_bands=16, rows_per_band=2)
        ).alias("band"),
    ).select("doc_id", "split", "n_tok", "band.band_id", "band.band_hash")
    # Bucket the band table ONCE (one shuffle) and emit capped
    # train×eval pairs per bucket — the narrow 2-row bands that buy the
    # recall also make degenerate buckets (boilerplate/near-empty docs)
    # far more common than at 8×4, and an uncapped bucket join measured
    # 17 s at sf0.1; the cap (the neardup_minhash_lsh skew guard) plus
    # the length-ratio gate below brought the query to ~2 s with the
    # recall pin intact.
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("split") == "train",
                            F.struct("doc_id", "n_tok"),
                        )
                    )
                ),
                1,
                100,
            ).alias("train_side"),
            F.slice(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("split") != "train",
                            F.struct("doc_id", "split", "n_tok"),
                        )
                    )
                ),
                1,
                100,
            ).alias("eval_side"),
        )
        .filter((F.size("train_side") > 0) & (F.size("eval_side") > 0))
    )
    # J >= 0.5 forces |A|/|B| within [1/2, 2] (|A∩B| <= min, |A∪B| >=
    # max => J <= min/max), so the integer length-ratio gate is
    # LOSSLESS for qualifying pairs — it prunes candidates, never recall.
    cands = (
        buckets.select(F.explode("train_side").alias("t"), "eval_side")
        .select("t", F.explode("eval_side").alias("e"))
        .filter(
            F.least(F.col("t.n_tok"), F.col("e.n_tok")) * 2
            >= F.greatest(F.col("t.n_tok"), F.col("e.n_tok"))
        )
        .select(
            F.col("e.split").alias("eval_split"),
            F.col("e.doc_id").alias("doc_eval"),
            F.col("t.doc_id").alias("doc_train"),
        )
        .distinct()
        .repartition(verify_parallelism(base), "doc_eval", "doc_train")
    )
    ta = base.select(F.col("doc_id").alias("doc_train"), F.col("toks").alias("toks_t"))
    tb = base.select(F.col("doc_id").alias("doc_eval"), F.col("toks").alias("toks_e"))
    n_common = F.size(F.array_intersect("toks_t", "toks_e"))
    n_union = F.size(F.array_union("toks_t", "toks_e"))
    jac = n_common.cast("double") / n_union
    return (
        cands.join(ta, "doc_train")
        .join(tb, "doc_eval")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= LEAKAGE_JACCARD_MIN)
        .groupBy("eval_split", "doc_eval")
        .agg(F.max("jaccard").alias("max_jaccard"))
    )


AB_ARM_THRESHOLD = "80000000"  # md5-hex midpoint: 50/50 assignment


@query(
    "ab_deterministic_assignment",
    oracle=f"""
    WITH arms AS (
        SELECT user_id,
               CASE WHEN {_SQL_HASH.format(salt='ab:', key='user_id')}
                         < '{AB_ARM_THRESHOLD}' THEN 'A' ELSE 'B' END AS arm
        FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT a.arm,
           count(DISTINCT e.user_id) AS n_users,
           count(*) FILTER (WHERE e.event_type = 'purchase') AS n_purchases,
           ((CAST(CAST((CAST(CAST(round(sum(CASE WHEN e.event_type = 'purchase'
                               THEN CAST(e.value AS DECIMAL(25,6)) END), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(round(sum(CASE WHEN e.event_type = 'purchase'
                               THEN CAST(e.value AS DECIMAL(25,6)) END), 2) * 100 AS HUGEINT) AS HUGEINT) - (CAST(CAST(round(sum(CASE WHEN e.event_type = 'purchase'
                               THEN CAST(e.value AS DECIMAL(25,6)) END), 2) * 100 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(100 AS DOUBLE)) AS purchase_value
    FROM events e JOIN arms a ON e.user_id = a.user_id
    GROUP BY 1
    """,
)
def ab_deterministic_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment assignment + per-arm outcome
    rollup: each user hashes into arm A or B (salted md5 threshold —
    same family as the sampling splits), so assignment is stable
    across runs, engines, and cluster layouts with NO assignment table
    to store or join-version. The rollup reports exposure (distinct
    users), conversions, and exact purchase value per arm; lift and
    significance are downstream arithmetic on these exact integers —
    deliberately NOT computed here, because ratios of decimals are the
    one thing the cross-engine contract can't hash-check.

    Plan: arm is a pure row-local expression on the event stream (the
    distinct-users CTE exists only to make the oracle's
    user-granularity explicit; Spark computes the arm inline per
    event, identical result). One shuffle for the per-arm aggregate;
    count(DISTINCT user) rides the same shuffle via partial sets.
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hash_key("ab:", F.col("user_id")) < F.lit(AB_ARM_THRESHOLD), "A"
    ).otherwise("B")
    is_purchase = F.col("event_type") == "purchase"
    return ev.groupBy(arm.alias("arm")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_if(is_purchase).alias("n_purchases"),
        ddbl(F.round(F.sum(F.when(is_purchase, F.col("value").cast("decimal(25,6)"))), 2), 2)
        .alias("purchase_value"),
    )


CAP_PER_SOURCE = 15


@query(
    "sample_cap_per_source",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {_SQL_HASH.format(salt='cap:', key='doc_id')},
                            doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {CAP_PER_SOURCE}
    """,
)
def sample_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency capping — at most {CAP_PER_SOURCE} documents
    survive per source, selected by deterministic salted-hash order
    (NOT arrival order): the 'domain capping' pass that stops a few
    giant domains from dominating a pretraining mixture. Hash-order
    selection keeps the surviving subset stable across runs, engines,
    partitionings, and incremental re-crawls — a re-run after new
    documents arrive keeps the same winners unless a new document's
    hash out-ranks one (bounded churn), where arrival-order capping
    would reshuffle everything.

    At 100 TB: one window shuffle keyed by source. For pathological
    domains (billions of docs — the window's skew case) the same salt
    supports a two-phase variant: per-source counts (tiny agg)
    broadcast a keep-probability cap/count and the hash THRESHOLD
    applies map-side (approximately cap survivors, zero window); the
    exact-rank form here is the correctness anchor for it.
    """
    w = Window.partitionBy("source").orderBy(
        hash_key("cap:", F.col("doc_id")), "doc_id"
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= CAP_PER_SOURCE)
    )


KFOLD_K = 5


@query(
    "sample_kfold_assignment",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, lang,
               CAST({sql_hex_to_long(_SQL_HASH.format(salt='fold:', key='doc_id'), 8)}
                    % {KFOLD_K} AS BIGINT) AS fold
        FROM documents
    )
    SELECT fold, count(*) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM assigned GROUP BY fold
    """,
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    salted-hash(doc_id) mod {KFOLD_K} — a pure function of the row
    key, so folds are disjoint and exhaustive BY CONSTRUCTION (no
    assignment table to store, no RNG state to version), stable across
    runs, engines, partitionings, and incremental data arrivals (a new
    document lands in its fold without reshuffling anyone else's).
    Per-fold profile ships as the graded output; fold-vs-rest
    train/eval splits then reuse the same column k times.

    The hash is the repo-wide md5-hex device lifted to an integer via
    the shared sql_hex_to_long fragment — both engines compute the
    same 32-bit draw, so the modulo buckets match exactly. Map-only:
    no shuffle for assignment; one hash-agg for the profile.
    """
    # Spark spells the string cast STRING where DuckDB spells it
    # VARCHAR; the md5/substring/hex-expansion text is otherwise shared.
    spark_hash = "substring(md5('fold:' || CAST(doc_id AS STRING)), 1, 8)"
    fold = F.expr(
        f"CAST({sql_hex_to_long(spark_hash, 8)} % {KFOLD_K} AS BIGINT)"
    )
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", "lang", fold.alias("fold"))
        .groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


@query(
    "sample_ht_estimator_check",
    oracle=f"""
    WITH base AS (
        SELECT c.c_mktsegment AS segment,
               CAST(CAST(o.o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT) AS cents,
               substring(md5('ht:' || CAST(o.o_orderkey AS VARCHAR)), 1, 8) AS h
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment,
           CAST(sum(cents) AS BIGINT) AS true_cents,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN h < '33333333' THEN cents ELSE 0 END) * 5
                AS BIGINT) AS est_cents,
           CAST(sum(CASE WHEN h < '33333333' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled,
           CAST((2 * 10000 * abs(sum(CASE WHEN h < '33333333' THEN cents
                                          ELSE 0 END) * 5 - sum(cents))
                 + sum(cents)) // (2 * sum(cents)) AS BIGINT) AS err_bp
    FROM base GROUP BY 1
    """,
)
def sample_ht_estimator_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimation audit: the 20 % salted-
    hash sample's inverse-probability-weighted revenue estimate
    (sample sum x 5 — the rate is the exact rational 1/5, so the
    weight is an integer multiply, no float) against the true total
    per segment, with the relative error in half-up basis points.
    This is approximate-query-processing's core contract — 'how wrong
    is the sample?' — materialized as a graded report, and the audit a
    pipeline runs before trusting sampled dashboards. One scan
    computes truth, sample membership, estimate, and error in the
    same hash aggregate (the CASE-FILTER split device); membership is
    the engine's standard md5-threshold draw, reproducible from the
    row key alone.
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    base = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        exact_cents(F.col("o_totalprice")).alias("cents"),
        (hash_key("ht:", F.col("o_orderkey")) < F.lit(THRESH_20PCT)).alias("in_sample"),
    )
    return base.groupBy("segment").agg(
        F.sum("cents").cast("long").alias("true_cents"),
        F.count("*").alias("n_rows"),
        (F.sum(F.when(F.col("in_sample"), F.col("cents")).otherwise(0)) * 5)
        .cast("long")
        .alias("est_cents"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.expr(
            "CAST((2 * 10000 * abs(sum(CASE WHEN in_sample THEN cents ELSE 0 END) * 5"
            " - sum(cents)) + sum(cents)) DIV (2 * sum(cents)) AS BIGINT)"
        ).alias("err_bp"),
    )


WILSON_Z = 1.96  # 95% — a decimal literal, parsed to the same double everywhere


@query(
    "ab_wilson_significance",
    oracle=f"""
    WITH arms AS (
        SELECT user_id,
               CASE WHEN {_SQL_HASH.format(salt='ab:', key='user_id')}
                         < '{AB_ARM_THRESHOLD}' THEN 'A' ELSE 'B' END AS arm,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1
    ), agg AS (
        SELECT arm, count(*) AS n_users,
               CAST(sum(converted) AS BIGINT) AS n_converted
        FROM arms GROUP BY 1
    )
    SELECT arm, n_users, n_converted,
           CAST((2 * 10000 * n_converted + n_users) // (2 * n_users) AS BIGINT)
               AS conv_bp,
           round(((CAST(n_converted AS DOUBLE) / n_users)
                  + ({WILSON_Z} * {WILSON_Z}) / (2 * n_users)
                  - {WILSON_Z} * sqrt(((CAST(n_converted AS DOUBLE) / n_users)
                        * (1 - (CAST(n_converted AS DOUBLE) / n_users))) / n_users
                      + ({WILSON_Z} * {WILSON_Z}) / (4.0 * n_users * n_users)))
                 / (1 + ({WILSON_Z} * {WILSON_Z}) / n_users), 6) AS wilson_low,
           round(((CAST(n_converted AS DOUBLE) / n_users)
                  + ({WILSON_Z} * {WILSON_Z}) / (2 * n_users)
                  + {WILSON_Z} * sqrt(((CAST(n_converted AS DOUBLE) / n_users)
                        * (1 - (CAST(n_converted AS DOUBLE) / n_users))) / n_users
                      + ({WILSON_Z} * {WILSON_Z}) / (4.0 * n_users * n_users)))
                 / (1 + ({WILSON_Z} * {WILSON_Z}) / n_users), 6) AS wilson_high
    FROM agg
    """,
)
def ab_wilson_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval per experiment arm — the
    significance layer ab_deterministic_assignment deliberately left
    downstream, landed HERE because this composition is provably
    hash-safe: every term is +,-,*,/ or sqrt on doubles derived from
    exact integers, all IEEE-754 correctly-rounded operations — no
    libm transcendental, no decimal cast, no accumulation-order
    dependence — and the expression tree is written with IDENTICAL
    association in both engines (the refinement of the older 'ratios
    can't hash-check' rule: they can, when the whole tree is
    correctly-rounded ops; ln/exp/pow and double->decimal casts are
    the actual hazards). Conversion is per-USER (max-flag per user,
    then one aggregate per arm); the rate ships as half-up integer
    basis points alongside the rounded-6dp bounds.

    The non-overlap of the two arms' intervals is the standard launch
    gate read straight off this 2-row result.
    """
    z2 = WILSON_Z * WILSON_Z
    ev = load(spark, sf_dir, "events")
    arms = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    ).select(
        F.when(
            hash_key("ab:", F.col("user_id")) < F.lit(AB_ARM_THRESHOLD), "A"
        )
        .otherwise("B")
        .alias("arm"),
        "converted",
    )
    agg = arms.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    p = F.col("n_converted").cast("double") / F.col("n_users")
    n = F.col("n_users")
    center = p + F.lit(z2) / (2 * n)
    rad = F.lit(WILSON_Z) * F.sqrt(
        (p * (1 - p)) / n + F.lit(z2) / (4.0 * n * n)
    )
    denom = 1 + F.lit(z2) / n
    return agg.select(
        "arm",
        "n_users",
        "n_converted",
        F.expr(
            "CAST((2 * 10000 * n_converted + n_users) DIV (2 * n_users) AS BIGINT)"
        ).alias("conv_bp"),
        F.round((center - rad) / denom, 6).alias("wilson_low"),
        F.round((center + rad) / denom, 6).alias("wilson_high"),
    )


@query(
    "mixture_temperature_weights",
    oracle="""
    WITH src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM documents GROUP BY 1
    ),
    w AS (
        SELECT source, n_docs, n_chars,
               CAST(floor(sqrt(CAST(n_chars AS DOUBLE)) * 1000000) AS BIGINT)
                   AS w_micro
        FROM src
    ),
    tot AS (
        SELECT sum(w_micro) AS sw, sum(n_chars) AS sc FROM w
    )
    SELECT w.source, w.n_docs, w.n_chars, w.w_micro,
           CAST((2 * 10000 * w.w_micro + t.sw) // (2 * t.sw) AS BIGINT)
               AS share_t2_bp,
           CAST((2 * 10000 * w.n_chars + t.sc) // (2 * t.sc) AS BIGINT)
               AS share_t1_bp
    FROM w CROSS JOIN tot t
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (T=2): each corpus source's
    sampling share goes as size^(1/T) — the standard up-weighting of
    small high-quality sources in multilingual/multi-source training
    mixes (T=1 = proportional, T→∞ = uniform); both the T=2 and the
    proportional shares are reported so the flattening is visible per
    source.

    Determinism device for the irrational size^(1/2): IEEE sqrt is
    CORRECTLY ROUNDED (unlike libm pow/exp), so sqrt(n) is
    bit-identical cross-engine; quantizing it to integer micro-units
    (floor(sqrt(n)*1e6) — multiply and floor of identical doubles,
    deterministic) moves all downstream arithmetic — the share
    normalization and half-up basis points — into exact integers,
    sidestepping the order-dependent float SUM over sources entirely.

    Plan: one scan to the source grain (map-side partial), a 1-row
    total broadcast back — the PSI/mixture shape.
    """
    src = load(spark, sf_dir, "documents").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
    )
    w = src.select(
        "source",
        "n_docs",
        "n_chars",
        F.floor(F.sqrt(F.col("n_chars").cast("double")) * 1000000)
        .cast("bigint")
        .alias("w_micro"),
    )
    tot = w.agg(
        F.sum("w_micro").alias("sw"), F.sum("n_chars").alias("sc")
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        "w_micro",
        F.expr(
            "CAST((2 * 10000 * w_micro + sw) DIV (2 * sw) AS BIGINT)"
        ).alias("share_t2_bp"),
        F.expr(
            "CAST((2 * 10000 * n_chars + sc) DIV (2 * sc) AS BIGINT)"
        ).alias("share_t1_bp"),
    )


@query(
    "sample_fair_interleave",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                   AS r
        FROM documents
    ),
    interleaved AS (
        SELECT doc_id, source, r,
               row_number() OVER (ORDER BY r, source, doc_id) AS pos
        FROM ranked
    )
    SELECT pos, doc_id, source, r AS rank_in_source
    FROM interleaved WHERE pos <= 100
    """,
)
def sample_fair_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fair interleaving of corpus sources: documents
    are hash-shuffled WITHIN each source (salted-md5 order — the
    repo's standard RNG-free shuffle), then merged round-robin by
    per-source rank, so any prefix of the output contains a near-
    equal number of documents from every source — the ordering a
    curriculum/training loader wants when small sources must not be
    starved by large ones (consuming N rows ≈ N/k per source).
    Graded on the first 100 positions.

    Plan: the per-source rank partitions by source (one exchange);
    the merge is a rank-major global sort — at scale a range
    partition on (r, source) with bounded per-rank width; prefix
    grading keeps the checked output tiny.
    """
    ranked = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
            )
        )
        .alias("r"),
    )
    interleaved = ranked.select(
        "doc_id",
        "source",
        "r",
        F.row_number().over(Window.orderBy("r", "source", "doc_id")).alias("pos"),
    )
    return interleaved.filter(F.col("pos") <= 100).select(
        "pos", "doc_id", "source", F.col("r").alias("rank_in_source")
    )


@query(
    "sample_neyman_allocation",
    oracle="""
    WITH strata AS (
        SELECT c_mktsegment AS stratum,
               count(*) AS n_h,
               CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(25,2)) * 100
                             AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(25,2)) * 100
                             AS BIGINT) AS HUGEINT)
                        * CAST(CAST(c_acctbal AS DECIMAL(25,2)) * 100
                               AS BIGINT)) AS HUGEINT) AS s2
        FROM customer GROUP BY 1
    ),
    scored AS (
        SELECT stratum, n_h,
               CAST(floor(sqrt((CAST(CAST((CAST(n_h * s2 - CAST(s1 AS HUGEINT) * s1 AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(n_h * s2 - CAST(s1 AS HUGEINT) * s1 AS HUGEINT) - (CAST(n_h * s2 - CAST(s1 AS HUGEINT) * s1 AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)))) AS BIGINT) AS w
        FROM strata
    ),
    tot AS (SELECT sum(w) AS sw FROM scored),
    fl AS (
        SELECT s.stratum, s.n_h, s.w,
               (1000 * s.w) // t.sw AS base,
               (1000 * s.w) % t.sw AS rem,
               1000 - sum((1000 * s.w) // t.sw) OVER () AS shortfall
        FROM scored s CROSS JOIN tot t
    )
    SELECT stratum, CAST(n_h AS BIGINT) AS n_h, w AS neyman_weight,
           CAST(base + CASE WHEN row_number() OVER
                                 (ORDER BY rem DESC, stratum ASC) <= shortfall
                            THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
    FROM fl
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-unit sample across customer
    segments: each stratum's share goes as N_h·σ_h — variance-heavy
    strata get more budget, which minimizes the estimator's variance
    at fixed cost (the survey-sampling upgrade over proportional
    allocation; the HT audit grades the estimation side, this grades
    the DESIGN side).

    Determinism: N_h·σ_h ∝ sqrt(N_h·Σx² − (Σx)²) over exact integer
    cent sums — the radicand exceeds 2^53, so it converts through the
    deterministic d53 split (r13; the bare wide cast this step used
    before is the class the r12 driver falsified), then IEEE sqrt and
    floor: identical BIGINT weights on any build. Allocation is the
    largest-remainder device (floors + ranked remainders), so the
    1000 units land identically everywhere.
    """
    cents = exact_cents(F.col("c_acctbal"))
    strata = load(spark, sf_dir, "customer").groupBy(
        F.col("c_mktsegment").alias("stratum")
    ).agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum(cents).cast("bigint").alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).cast("decimal(38,0)").alias("s2"),
    )
    scored = strata.select(
        "stratum",
        "n_h",
        # r13 (plan-lint R9): the radicand exceeds 2^53 — the bare
        # wide cast this docstring once called safe is the exact
        # r12-falsified class; d53 split instead.
        F.floor(
            F.sqrt(
                F.expr(d53("n_h * CAST(s2 AS DECIMAL(38,0)) - CAST(s1 AS DECIMAL(38,0)) * s1"))
            )
        )
        .cast("bigint")
        .alias("w"),
    )
    tot = scored.agg(F.sum("w").alias("sw"))
    fl = scored.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        "w",
        # nullif (r10): all-constant strata zero every Neyman weight
        # (sw = 0) — Spark ANSI raises on DIV/% where DuckDB yields NULL
        F.expr("(1000 * w) DIV nullif(sw, 0)").alias("base"),
        F.expr("(1000 * w) % nullif(sw, 0)").alias("rem"),
    )
    fl = fl.withColumn(
        "shortfall",
        F.lit(1000) - F.sum("base").over(Window.partitionBy()),
    )
    return fl.select(
        "stratum",
        F.col("n_h").cast("bigint").alias("n_h"),
        F.col("w").alias("neyman_weight"),
        (
            F.col("base")
            + F.when(
                F.row_number().over(
                    Window.orderBy(F.desc("rem"), F.asc("stratum"))
                )
                <= F.col("shortfall"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    )


@query(
    "sample_walk_forward_folds",
    oracle="""
    WITH months AS (
        SELECT DISTINCT strftime(date_trunc('month', o_orderdate), '%Y-%m')
                   AS month
        FROM orders WHERE o_orderdate IS NOT NULL
    ),
    idx AS (
        SELECT month,
               CAST(row_number() OVER (ORDER BY month) AS BIGINT) AS i,
               count(*) OVER () AS n
        FROM months
    ),
    folds AS (
        SELECT CAST(f.fold AS BIGINT) AS fold,
               12 + (f.fold - 1) * 6 AS train_end
        FROM (SELECT unnest(generate_series(1, 5)) AS fold) f
    )
    SELECT f.fold, i.month,
           CASE WHEN i.i <= f.train_end THEN 'train'
                WHEN i.i <= f.train_end + 3 THEN 'test'
                ELSE 'unused' END AS role
    FROM folds f CROSS JOIN idx i
    WHERE i.i <= f.train_end + 3
    """,
)
def sample_walk_forward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward (expanding-window) cross-validation design for
    time series: five folds, each training on the first 12+6(f−1)
    months and testing on the NEXT three — the temporal CV that
    replaces k-fold when leakage-by-time matters (a random fold
    would train on the future; sample_kfold_assignment is the i.i.d.
    sibling, this is the ordered one). Emitted as the (fold, month,
    role) assignment grid a backtest driver joins against the fact
    table — assignment is pure month-index arithmetic over the
    calendar grain, so the design is identical on any engine and
    any data layout.
    """
    months = (
        load(spark, sf_dir, "orders").filter(F.col("o_orderdate").isNotNull())
        .select(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            )
        )
        .distinct()
    )
    idx = months.select(
        "month",
        F.row_number().over(Window.orderBy("month")).cast("bigint").alias("i"),
    )
    folds = spark.range(1, 6).select(
        F.col("id").cast("bigint").alias("fold"),
        (F.lit(12) + (F.col("id") - 1) * 6).cast("bigint").alias("train_end"),
    )
    grid = folds.crossJoin(idx).filter(F.col("i") <= F.col("train_end") + 3)
    return grid.select(
        "fold",
        "month",
        F.when(F.col("i") <= F.col("train_end"), "train")
        .when(F.col("i") <= F.col("train_end") + 3, "test")
        .otherwise("unused")
        .alias("role"),
    )


# -- Deterministic Poisson bootstrap ----------------------------------------
# The distributed bootstrap (Chamandy et al., "Estimating Uncertainty
# for Massive Data Streams", Google 2012): instead of resampling n rows
# WITH replacement (impossible to coordinate across a cluster), each
# row enters replica b with an independent Poisson(1) count — and here
# even that draw is DERANDOMIZED: the count comes from inverse-CDF
# thresholds on the row's deterministic 32-bit hash, so the whole
# confidence interval is a pure function of the data, reproducible on
# any cluster and graded hash-exact against the oracle.

BOOT_B = 100  # bootstrap replicas
# cumulative Poisson(1) inverse-CDF cut points as 8-hex-char thresholds
# (floor(cum * 2^32)): P(X=0)..P(X<=5); the tail rounds up to 6.
BOOT_POISSON_CUM_HEX = (
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5", "ffd90f3b",
)
BOOT_LO_RANK = 3  # ceil(0.025 * B): 2.5% rank-picked bound
BOOT_HI_RANK = 98  # ceil(0.975 * B): 97.5% rank-picked bound


def _boot_count_sql(h: str) -> str:
    cases = " ".join(
        f"WHEN {h} < '{t}' THEN {k}"
        for k, t in enumerate(BOOT_POISSON_CUM_HEX)
    )
    return f"CASE {cases} ELSE 6 END"


@query(
    "bootstrap_poisson_ci_mean",
    oracle=f"""
    WITH base AS (
        SELECT o_orderpriority AS priority,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               o_orderkey
        FROM orders
    ),
    replicated AS (
        SELECT priority, cents, b.b,
               {_boot_count_sql(
                   _SQL_HASH.format(
                       salt="boot:",
                       key="o_orderkey || ':' || b.b",
                   )
               )} AS c
        FROM base CROSS JOIN (SELECT unnest(generate_series(0, {BOOT_B - 1}))
                              AS b) b
    ),
    replica_means AS (
        SELECT priority, b,
               CAST((2 * sum(CAST(c AS HUGEINT) * cents) + sum(c))
                    // (2 * sum(c)) AS BIGINT) AS mean_cents
        FROM replicated GROUP BY 1, 2 HAVING sum(c) > 0
    ),
    ranked AS (
        SELECT priority, mean_cents,
               row_number() OVER (PARTITION BY priority
                                  ORDER BY mean_cents, b) AS rk
        FROM replica_means
    ),
    point AS (
        SELECT priority, CAST(count(*) AS BIGINT) AS n_orders,
               CAST((2 * sum(CAST(cents AS HUGEINT)) + count(*))
                    // (2 * count(*)) AS BIGINT) AS mean_cents
        FROM base GROUP BY 1
    )
    SELECT p.priority, p.n_orders, p.mean_cents,
           max(CASE WHEN r.rk = {BOOT_LO_RANK} THEN r.mean_cents END)
               AS ci_lo_cents,
           max(CASE WHEN r.rk = {BOOT_HI_RANK} THEN r.mean_cents END)
               AS ci_hi_cents,
           CAST({BOOT_B} AS INTEGER) AS n_replicas
    FROM point p JOIN ranked r ON r.priority = p.priority
    GROUP BY 1, 2, 3
    """,
)
def bootstrap_poisson_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value per priority
    via the DETERMINISTIC Poisson bootstrap — the uncertainty
    quantification a 100 TB pipeline can actually run: classic
    resampling needs coordinated with-replacement draws over n rows;
    the Poisson bootstrap gives each row an independent Poisson(1)
    multiplicity per replica (correct to O(1/n)), which shards
    perfectly — and this implementation derandomizes the draw with
    inverse-CDF thresholds on a salted per-(row, replica) hash, so
    the CI is reproducible and hash-gradable (no RNG anywhere — the
    same derandomization the engine's Bernoulli sampler uses).

    Exactness: multiplicities are exact integers from hex-string
    threshold compares; replica means are the tie-safe half-up davg
    on integer cents; CI bounds are RANK-PICKED replica means
    (positions ceil(0.025 B) and ceil(0.975 B), ties broken by
    replica id — no interpolation).

    Scale shape: the x{BOOT_B} explode is the algorithm's stated cost
    and collapses map-side (partial aggregation) before one shuffle
    to (priority, replica) grain — 5x{BOOT_B} groups; the rank window
    runs over {BOOT_B} rows per priority. Nothing driver-side.
    """
    base = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        exact_cents(F.col("o_totalprice")).alias("cents"),
        "o_orderkey",
    )
    replicated = base.select(
        "priority",
        "cents",
        "o_orderkey",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).withColumn(
        "c",
        F.expr(
            _boot_count_sql(
                "substring(md5('boot:' || CAST(o_orderkey AS STRING)"
                " || ':' || CAST(b AS STRING)), 1, 8)"
            )
        ),
    )
    replica_means = (
        replicated.groupBy("priority", "b")
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("cents")).alias("s"),
            F.sum("c").cast("decimal(38,0)").alias("n"),
        )
        .filter(F.col("n") > 0)
        .select(
            "priority",
            "b",
            F.expr("CAST((2 * s + n) DIV (2 * n) AS BIGINT)").alias("rep_mean"),
        )
    )
    ranked = replica_means.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("priority").orderBy("rep_mean", "b")
        ),
    )
    point = base.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr(
            "CAST((2 * sum(CAST(cents AS DECIMAL(38,0))) + count(*))"
            " DIV (2 * count(*)) AS BIGINT)"
        ).alias("mean_cents"),
    )
    return (
        point.join(ranked, "priority")
        .groupBy("priority", "n_orders", "mean_cents")
        .agg(
            F.max(
                F.when(F.col("rk") == BOOT_LO_RANK, F.col("rep_mean"))
            ).alias("ci_lo_cents"),
            F.max(
                F.when(F.col("rk") == BOOT_HI_RANK, F.col("rep_mean"))
            ).alias("ci_hi_cents"),
        )
        .withColumn("n_replicas", F.lit(BOOT_B).cast("int"))
    )


def _pack_shard_balance_oracle() -> str:
    """Mechanical composition over the registered pack oracle (same
    guarantee as pipeline_full_release: the audit's spec IS the pack's
    spec, wrapped)."""
    from leadsight_sales_agent_spark.registry import ORACLES

    pack = ORACLES["pack_sequences_token_budget"]
    return f"""
    WITH manifest AS ({pack}),
    per_shard AS (
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_sequences,
               CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
        FROM manifest GROUP BY 1
    ),
    tot AS (SELECT sum(shard_tokens) AS t, count(*) AS ns FROM per_shard)
    SELECT p.shard, p.n_sequences, p.shard_tokens,
           CAST((2 * 10000 * p.shard_tokens + t.t) // (2 * t.t) AS BIGINT)
               AS share_bp,
           CAST((2 * 10000 * p.shard_tokens * t.ns + t.t) // (2 * t.t)
                AS BIGINT) AS vs_even_bp
    FROM per_shard p CROSS JOIN tot t
    """


@query("layout_pack_shard_balance", oracle=_pack_shard_balance_oracle())
def layout_pack_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit of the packed-sequence layout — the QA pass
    that decides whether the pack's 16-way hash sharding actually
    balanced the token stream (a skewed shard becomes the straggler of
    every downstream training epoch): per shard, sequence and token
    totals, the token share in basis points, and the deviation from
    the even split as 10000 = exactly even (vs_even_bp = share x
    n_shards — a shard at 12000 carries 20% more than its fair slice).
    The oracle is composed mechanically from the pack stage's
    registered spec.

    One rollup of the manifest (16 rows) + a 1-row totals broadcast —
    free at any scale; the signal guards the 100 TB property the pack
    relies on (hash-uniform shard assignment).
    """
    manifest = pack_manifest(load(spark, sf_dir, "documents"))
    per_shard = manifest.groupBy("shard").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sequences"),
        F.sum("n_tokens").cast("bigint").alias("shard_tokens"),
    )
    tot = per_shard.agg(
        F.sum("shard_tokens").alias("t"), F.count(F.lit(1)).alias("ns")
    )
    return per_shard.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_sequences",
        "shard_tokens",
        F.expr("CAST((2 * 10000 * shard_tokens + t) DIV (2 * t) AS BIGINT)").alias(
            "share_bp"
        ),
        F.expr(
            "CAST((2 * 10000 * shard_tokens * ns + t) DIV (2 * t) AS BIGINT)"
        ).alias("vs_even_bp"),
    )


REPEAT_MAX_EPOCHS = 4  # the "up to ~4 epochs are nearly free" regime
# epoch value decays dyadically: (1/2)^(e-1), scaled x8 to integers
_EPOCH_UTIL_SQL = "CASE epoch WHEN 1 THEN 8 WHEN 2 THEN 4 WHEN 3 THEN 2 ELSE 1 END"


@query(
    "mixture_repeat_epochs_plan",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               CAST(sum(len(string_split_regex(trim(text), '{chr(92)}s+')))
                    AS BIGINT) AS tok_s
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(tok_s) * 3 // 2 AS BIGINT) AS budget FROM tok
    ),
    grid AS (
        SELECT source, tok_s,
               CAST(unnest(generate_series(1, {REPEAT_MAX_EPOCHS}))
                    AS INTEGER) AS epoch
        FROM tok
    ),
    util AS (
        SELECT source, tok_s, epoch,
               tok_s * ({_EPOCH_UTIL_SQL}) AS util8
        FROM grid
    ),
    sched AS (
        SELECT source, tok_s, epoch, util8, t.budget,
               sum(tok_s) OVER (ORDER BY util8 DESC, source, epoch
                                ROWS UNBOUNDED PRECEDING) - tok_s AS cum_prev
        FROM util, tot t
    )
    SELECT source, epoch,
           tok_s AS tokens_planned,
           CAST(CASE WHEN cum_prev + tok_s <= budget THEN tok_s
                     ELSE budget - cum_prev END AS BIGINT) AS tokens_taken,
           CAST(util8 AS BIGINT) AS util8,
           CAST(CASE WHEN cum_prev + tok_s <= budget THEN 1 ELSE 0 END
                AS INTEGER) AS full_epoch
    FROM sched WHERE cum_prev < budget
    """,
)
def mixture_repeat_epochs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained mixture planning with REPEATED epochs — when the
    token budget EXCEEDS the deduped corpus (the data-constrained
    regime of Muennighoff et al., "Scaling Data-Constrained Language
    Models"), which sources should be repeated, and how many epochs
    each? Epoch e of a source is worth (1/2)^(e-1) of a fresh pass
    (a dyadic stand-in for the paper's fitted decay), and the greedy
    rule — always buy the highest marginal-utility-per-token epoch
    next — is EXACTLY optimal here because dyadic decay makes the
    per-source utility sequence diminishing (the allocation problem is
    submodular; greedy on the (source x epoch) grid is the argmax).

    Mechanics, all exact integers: per-source token totals (one
    hash-agg over the corpus — the only data-scale work), a bounded
    #sources x {REPEAT_MAX_EPOCHS} grid with utility tok_s·2^(4-e)
    scaled x8 to BIGINT, one cumulative window over the greedy order
    (utility DESC, source, epoch — a total order), and the budget
    B = 3/2 x corpus tokens cuts the schedule, possibly mid-epoch
    (tokens_taken < tokens_planned on the boundary row, full_epoch=0).
    Later epochs of a source can never precede earlier ones in the
    greedy order (utility strictly halves), so the schedule is always
    a valid epoch prefix per source.

    Scale: the corpus is touched once; everything after runs on the
    source-grain grid (bounded by the source alphabet, not the data),
    like mixture_token_budget_allocation's budget table. The 1-row
    budget scalar broadcasts onto the grid.
    """
    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(text_tokens()).alias("n_tok"),
        )
        .groupBy("source")
        .agg(F.sum("n_tok").cast("bigint").alias("tok_s"))
    )
    tot = tok.agg(
        F.expr("CAST(sum(tok_s) * 3 DIV 2 AS BIGINT)").alias("budget")
    )
    grid = tok.select(
        "source",
        "tok_s",
        F.explode(F.sequence(F.lit(1), F.lit(REPEAT_MAX_EPOCHS))).alias("epoch"),
    )
    util = grid.select(
        "source",
        "tok_s",
        F.col("epoch").cast("int").alias("epoch"),
        (F.col("tok_s") * F.expr(_EPOCH_UTIL_SQL)).alias("util8"),
    )
    w = (
        Window.orderBy(F.desc("util8"), F.asc("source"), F.asc("epoch"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sched = util.crossJoin(F.broadcast(tot)).select(
        "source",
        "tok_s",
        "epoch",
        "util8",
        "budget",
        (F.sum("tok_s").over(w) - F.col("tok_s")).alias("cum_prev"),
    )
    return sched.filter(F.col("cum_prev") < F.col("budget")).select(
        "source",
        "epoch",
        F.col("tok_s").alias("tokens_planned"),
        F.when(
            F.col("cum_prev") + F.col("tok_s") <= F.col("budget"), F.col("tok_s")
        )
        .otherwise(F.col("budget") - F.col("cum_prev"))
        .cast("bigint")
        .alias("tokens_taken"),
        F.col("util8").cast("bigint").alias("util8"),
        F.when(F.col("cum_prev") + F.col("tok_s") <= F.col("budget"), 1)
        .otherwise(0)
        .cast("int")
        .alias("full_epoch"),
    )


PRIORITY_K = 20  # sample size per source stratum


@query(
    "sample_priority_weighted_topk",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
               {sql_hex_to_long(_SQL_HASH.format(salt="pri:", key="doc_id"), 8)}
                   + 1 AS h1
        FROM documents WHERE n_chars > 0
    ),
    pri AS (
        SELECT doc_id, source, w,
               CAST(w AS DOUBLE) / h1 AS qd,
               row_number() OVER (PARTITION BY source
                                  ORDER BY CAST(w AS DOUBLE) / h1 DESC,
                                           doc_id) AS rn
        FROM base
    ),
    tau AS (
        SELECT source, max(CASE WHEN rn = {PRIORITY_K} + 1 THEN qd END)
                           * 4294967296.0 AS tau_q
        FROM pri GROUP BY 1
    ),
    est AS (
        SELECT p.source,
               CAST(floor(greatest(CAST(p.w AS DOUBLE), t.tau_q) * 1e3 + 0.5)
                    AS DECIMAL(25,0)) AS est_milli
        FROM pri p JOIN tau t ON t.source = p.source
        WHERE p.rn <= {PRIORITY_K}
    ),
    truth AS (
        SELECT source, CAST(sum(w) AS BIGINT) AS true_w, count(*) AS n_docs
        FROM base GROUP BY 1
    ),
    esum AS (
        SELECT source, CAST(sum(est_milli) AS BIGINT) AS est_milli_sum
        FROM est GROUP BY 1
    )
    SELECT t.source,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           t.true_w,
           e.est_milli_sum,
           CAST((2 * 10000 * (e.est_milli_sum - t.true_w * 1000)
                 + t.true_w * 1000)
                // (2 * t.true_w * 1000) AS BIGINT) AS err_bp
    FROM truth t JOIN esum e ON e.source = t.source
    """,
)
def sample_priority_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup, JACM '07) — weighted
    sampling WITHOUT replacement of {PRIORITY_K} docs per source with
    the unbiased subset-sum estimator: each doc draws priority
    q = w/u from a hash uniform u, the top-k priorities are the
    sample, tau is the (k+1)-th priority, and every selected doc
    estimates its weight as max(w, tau) — E[estimate] telescopes to
    the TRUE total weight, which is what lets a 100 TB pipeline answer
    weighted-sum queries (token counts, quality mass) from a tiny
    stored sample. The graded output is the per-source audit: true
    weight mass vs the estimator's mass, error in half-up basis
    points.

    Exactness WITHOUT libm (the trick): u = (h+1)/2^32 from the md5
    device, so q = w/u = w·2^32/(h+1) — every comparison key is ONE
    IEEE division of two exact <2^53 integers, bit-identical in both
    engines (no ln/exp anywhere, unlike the exponential-race
    formulation of weighted sampling); the rank's tie-break is doc_id.
    tau·2^32 and max(w, tau) stay in the identical-double regime and
    the k-row estimator sum is floor-quantized to milli-units and
    summed as DECIMAL — order-free. err_bp uses the cross-multiplied
    half-up integer device.

    Scale: one map-side priority per row, one per-stratum top-(k+1)
    (WindowGroupLimit prunes per partition before the shuffle at
    scale), and the truth aggregate — a second scan that a real
    deployment already has as corpus metadata.
    """
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("w"),
            hash_key("pri:", F.col("doc_id")).alias("hx"),
        )
        .select(
            "doc_id",
            "source",
            "w",
            (F.expr(sql_hex_to_long("hx", 8)) + 1).alias("h1"),
        )
    )
    pri = base.select(
        "doc_id",
        "source",
        "w",
        (F.col("w").cast("double") / F.col("h1")).alias("qd"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy(F.desc("qd"), F.asc("doc_id"))
        ),
    )
    tau = pri.groupBy("source").agg(
        (
            F.max(F.when(F.col("rn") == PRIORITY_K + 1, F.col("qd")))
            * F.lit(4294967296.0)
        ).alias("tau_q")
    )
    est = (
        pri.filter(F.col("rn") <= PRIORITY_K)
        .join(F.broadcast(tau), "source")
        .select(
            "source",
            F.expr(
                "CAST(floor(greatest(CAST(w AS DOUBLE), tau_q) * 1e3 + 0.5)"
                " AS DECIMAL(25,0))"
            ).alias("est_milli"),
        )
    )
    truth = base.groupBy("source").agg(
        F.sum("w").cast("bigint").alias("true_w"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    esum = est.groupBy("source").agg(
        F.sum("est_milli").cast("bigint").alias("est_milli_sum")
    )
    return truth.join(esum, "source").select(
        "source",
        "n_docs",
        "true_w",
        "est_milli_sum",
        F.expr(
            "CAST((2 * 10000 * (est_milli_sum - true_w * 1000) + true_w * 1000)"
            " DIV (2 * true_w * 1000) AS BIGINT)"
        ).alias("err_bp"),
    )


PPS_K = 100  # systematic sample size


@query(
    "sample_pps_systematic",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(25,2)) * 100 AS BIGINT)
                   AS cents,
               md5('pps:' || CAST(o_orderkey AS VARCHAR)) AS hk
        FROM orders
    ),
    cum AS (
        SELECT o_orderkey, cents,
               sum(cents) OVER (ORDER BY hk, o_orderkey) AS cum_incl,
               sum(cents) OVER () AS t
        FROM base
    ),
    hits AS (
        SELECT o_orderkey, cents, t,
               (2 * {PPS_K} * cum_incl + t) // (2 * t)
                 - (2 * {PPS_K} * (cum_incl - cents) + t) // (2 * t)
                   AS n_hits
        FROM cum
    )
    SELECT o_orderkey, cents, CAST(n_hits AS BIGINT) AS n_hits,
           CAST((2 * t + {PPS_K}) // (2 * {PPS_K}) AS BIGINT)
               AS step_cents
    FROM hits WHERE n_hits >= 1
    ORDER BY o_orderkey
    """,
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling of
    {PPS_K} draws over orders, weighted by order value: walk the
    hash-ordered cumulative-cents line and take every (total/k)-th
    cent starting at the midpoint — the classic PPS design (each
    order's expected draw count = k·cents/total, big orders can be
    drawn multiple times; Σ draws = k EXACTLY by telescoping).
    Completes the sampling family's size-biased cell: Bernoulli/
    stratified/k-fold are equal-probability, priority-weighted top-k
    is without-replacement heuristic — systematic PPS is the survey-
    statistics workhorse (and its hash ordering IS the 'implicit
    stratification by random order' the textbooks prescribe — no RNG,
    the playbook's deterministic-hash device).

    Exactness: draw counts are pure integer interval counts on the
    doubled grid — hits(u) = f(cum) - f(cum - cents) with
    f(x) = (2kx + t) DIV (2t) — no division result is ever
    materialized as a float, and midpoint-start means no RNG seed.

    100 TB plan: the cumulative line is SHARDED, not global — the
    pack_sequences_token_budget prefix-sum device (r8 verdict task):
    the global order is (hk, o_orderkey) and hk's FIRST HEX CHAR is
    its most significant position, so partitioning by that prefix
    gives 16 shards whose concatenation IS the global order. Each
    shard runs its own cumulative window in parallel; a 16-row
    shard-totals frame (one tiny window) yields each shard's start
    offset and the grand total t, broadcast back. cum_incl =
    shard_offset + within-shard cum — bit-identical to the single
    global window, with no single-partition WindowExec stage.
    Everything else is map-side; the k selected keys then broadcast
    back for any follow-up join.
    """
    from leadsight_sales_agent_spark.operators.sampling import hash_key

    base = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        exact_cents(F.col("o_totalprice")).alias("cents"),
        hash_key("pps:", F.col("o_orderkey").cast("string")).alias("hk"),
    )
    base = base.withColumn("shard", F.substring("hk", 1, 1))
    wsh = Window.partitionBy("shard").orderBy("hk", "o_orderkey")
    # 16-row shard totals: offset = sum of totals of lexically smaller
    # shards; t = grand total. The window here is over 16 rows, not the
    # fact — bounded at any data scale.
    woff = Window.orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        base.groupBy("shard")
        .agg(F.sum("cents").alias("sh_tot"))
        .select(
            "shard",
            F.coalesce(F.sum("sh_tot").over(woff), F.lit(0)).alias("sh_off"),
            F.sum("sh_tot").over(wall).alias("t"),
        )
    )
    cum = base.join(F.broadcast(offsets), "shard").select(
        "o_orderkey",
        "cents",
        (F.col("sh_off") + F.sum("cents").over(wsh)).alias("cum_incl"),
        "t",
    )
    hits = cum.select(
        "o_orderkey",
        "cents",
        "t",
        F.expr(
            f"(2 * {PPS_K} * cum_incl + t) DIV (2 * t)"
            f" - (2 * {PPS_K} * (cum_incl - cents) + t) DIV (2 * t)"
        ).alias("n_hits"),
    )
    return (
        hits.filter(F.col("n_hits") >= 1)
        .select(
            "o_orderkey",
            "cents",
            F.col("n_hits").cast("bigint").alias("n_hits"),
            F.expr(
                f"CAST((2 * t + {PPS_K}) DIV (2 * {PPS_K}) AS BIGINT)"
            ).alias("step_cents"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling")
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (2 hex chars)
DSIR_SEL_DIV = 5  # select top n/5 docs (20%)


def _dsir_oracle() -> str:
    from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long

    u32 = sql_hex_to_long("substring(md5('dsirg:' || CAST(t.doc_id AS STRING)), 1, 8)", 8)
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, source,
               string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
    ),
    uni AS (
        SELECT doc_id, unnest(toks) AS gram FROM tok
    ),
    bi AS (
        SELECT t.doc_id, t.toks[g.i] || ' ' || t.toks[g.i + 1] AS gram
        FROM tok t, unnest(generate_series(1, len(t.toks) - 1)) AS g(i)
    ),
    feat AS (
        SELECT doc_id, substring(md5('dsir:' || gram), 1, 2) AS b,
               count(*) AS n
        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        GROUP BY 1, 2
    ),
    tgt AS (
        SELECT f.b, CAST(sum(f.n) AS BIGINT) AS ct
        FROM feat f JOIN tok t ON t.doc_id = f.doc_id
        WHERE t.lang = 'en' GROUP BY 1
    ),
    raw AS (
        SELECT b, CAST(sum(n) AS BIGINT) AS cr FROM feat GROUP BY 1
    ),
    tots AS (
        SELECT (SELECT sum(ct) FROM tgt) AS tt, (SELECT sum(cr) FROM raw) AS tr
    ),
    lr AS (
        SELECT r.b,
               CAST(floor(ln(CAST(coalesce(t.ct, 0) + 1 AS DOUBLE)) * 1e12)
                    AS BIGINT)
             - CAST(floor(ln(CAST(s.tt + {DSIR_BUCKETS} AS DOUBLE)) * 1e12)
                    AS BIGINT)
             - CAST(floor(ln(CAST(r.cr + 1 AS DOUBLE)) * 1e12) AS BIGINT)
             + CAST(floor(ln(CAST(s.tr + {DSIR_BUCKETS} AS DOUBLE)) * 1e12)
                    AS BIGINT) AS lw
        FROM raw r LEFT JOIN tgt t ON t.b = r.b CROSS JOIN tots s
    ),
    w AS (
        SELECT f.doc_id, CAST(sum(f.n * l.lw) AS BIGINT) AS w_e12
        FROM feat f JOIN lr l ON l.b = f.b GROUP BY 1
    ),
    scored AS (
        SELECT t.doc_id, t.source, coalesce(w.w_e12, 0) AS w_e12,
               coalesce(w.w_e12, 0)
               + CAST(floor(-ln(-ln((CAST({u32} AS DOUBLE) + 0.5)
                                    / CAST(4294967296 AS DOUBLE))) * 1e12)
                      AS BIGINT) AS score_e12
        FROM tok t LEFT JOIN w ON w.doc_id = t.doc_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY score_e12 DESC, doc_id ASC)
                      AS rk,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN rk <= n // {DSIR_SEL_DIV} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_selected,
           CAST((2 * 10000 * sum(CASE WHEN rk <= n // {DSIR_SEL_DIV}
                                      THEN 1 ELSE 0 END) + count(*))
                // (2 * count(*)) AS BIGINT) AS sel_bp,
           CAST(sum(w_e12) AS BIGINT) AS sum_w_e12
    FROM ranked GROUP BY 1
    """


@query("sample_dsir_importance", oracle=_dsir_oracle())
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): resample raw documents
    toward a TARGET distribution (here: the lang='en' slice, standing
    in for "looks like Wikipedia") by importance weights over hashed
    n-gram features — the selection method behind several public
    pretraining datasets, and the principled upgrade of
    sample_importance_by_length's heuristic weights.

    Device chain (all proven elsewhere in the repo):
    - features: unigrams + bigrams hashed to {DSIR_BUCKETS} buckets by
      md5 first-2-hex (fixed-width shuffle keys);
    - log importance ratio per bucket with add-1 smoothing, each ln of
      an INTEGER e12-floor-quantized (the storage_entropy/novelty ln
      device) so doc weights are exact BIGINT sums of per-bucket
      integers; the target and raw totals are OVER () windows on the
      256-row bucket grain;
    - sampling WITHOUT an RNG: Gumbel-max via the md5-uniform device
      (u = (h32 + 0.5) / 2^32, g = -ln(-ln(u)) e12-quantized) — the
      bootstrap/permutation derandomization contract applied to
      importance SAMPLING (score = log w + Gumbel, top n/{DSIR_SEL_DIV});
    - exact top-k without a global row_number OR a data-proportional
      limit: the k-th (score, doc_id) boundary is RANK-LOCALIZED (r10)
      via the equidepth device — 1-nat score-bucket histogram →
      cumulative locate over the bounded grid → single-bucket sliver
      rescan — then broadcast back as a threshold. The old
      orderBy().limit(n/5) pushed 20% of the corpus through one task;
      this touches one score bucket.

    Output is the per-source selection report a mixture curator reads:
    how many docs each source keeps under the target-matching policy
    and each source's total log-weight mass.
    """
    from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", text_tokens().alias("toks")
    )
    # r13 (guide §2.3): the target-slice membership used to be a JOIN
    # of feat against the en doc-id set, and the four bucket-grain
    # reductions (tgt, raw, and one scalar agg over each for tots) were
    # four separate passes over the feat checkpoint. The en flag is a
    # per-doc fact, so it RIDES THE GRAM STREAM instead (one boolean
    # column through the explode/groupBy, functional on doc_id), and
    # all four reductions collapse into ONE conditional-aggregation
    # pass producing the 256-row bucket-stats frame (cr, ct) — tgt's
    # per-bucket sum is sum(n) FILTERed to en == sum(when(en, n)), a
    # bucket with no en rows sums to NULL exactly like the old left
    # join's absent row, and the old coalesce(ct, 0) absorbs both.
    # feat passes: 5 -> 2 (bstats + the doc-grain weight join).
    en = (F.col("lang") == "en").alias("en")
    uni = docs.select("doc_id", en, F.explode("toks").alias("gram"))
    # size(toks) == 1 guard: Spark sequence(1, 0) yields the DESCENDING
    # array [1, 0] (not empty like DuckDB's generate_series(1, 0)), so an
    # unguarded bigram transform would read toks[1] — INVALID_ARRAY_INDEX
    # under ANSI, silent null grams otherwise — on any 1-token document.
    bi = docs.filter(F.size("toks") >= 2).select(
        "doc_id",
        en,
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i - 1], ' ', toks[i]))"
            )
        ).alias("gram"),
    )
    feat = (
        uni.unionByName(bi)
        .groupBy(
            "doc_id",
            "en",
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("gram"))), 1, 2).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        # ckpt-grain: slim-exception — 4 narrow cols at doc x 256-bucket grain; rep50-probed healthy (SCALE_PROBE)
        .localCheckpoint(eager=False)
    )
    bstats = (
        feat.groupBy("b")
        .agg(
            F.sum("n").cast("bigint").alias("cr"),
            F.sum(F.when(F.col("en"), F.col("n"))).cast("bigint").alias("ct"),
        )
    )
    lnq = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1e12) AS BIGINT)"
    lr = bstats.select(
        "b",
        F.expr(
            lnq.format(x="coalesce(ct, 0) + 1")
            + " - "
            + lnq.format(x=f"sum(ct) OVER () + {DSIR_BUCKETS}")
            + " - "
            + lnq.format(x="cr + 1")
            + " + "
            + lnq.format(x=f"sum(cr) OVER () + {DSIR_BUCKETS}")
        ).alias("lw"),
    )
    w = (
        feat.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("n") * F.col("lw")).cast("bigint").alias("w_e12"))
    )
    u32 = sql_hex_to_long(
        "substring(md5('dsirg:' || CAST(doc_id AS STRING)), 1, 8)", 8
    )
    scored = (
        docs.select("doc_id", "source")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("w_e12", F.lit(0)).alias("w_e12"),
            (
                F.coalesce("w_e12", F.lit(0))
                + F.expr(
                    # r13 (R9-prechk): the bare `(u32 + 0.5) / 2^32`
                    # divided in DECIMAL on Spark (scale-13 HALF_UP —
                    # only ~8 significant digits at small u) but in
                    # DOUBLE on DuckDB; a 4000-id probe showed 16% of
                    # Gumbel integers differing by ±1 — a latent
                    # boundary flake of the r12 hash class, masked so
                    # far by top-k robustness. The explicit DOUBLE
                    # casts make it ONE correctly-rounded IEEE division
                    # of exact operands on both engines (u32 + 0.5 is
                    # exactly representable: u32 < 2^32).
                    f"CAST(floor(-ln(-ln((CAST({u32} AS DOUBLE) + 0.5)"
                    " / CAST(4294967296 AS DOUBLE)))"
                    " * 1e12) AS BIGINT)"
                )
            ).alias("score_e12"),
        )
        # localCheckpoint kept (r11 rule exception): slim 2-column
        # doc-grain frame, probed healthy at rep50 (3.73x, SCALE_PROBE
        # rep50_r10); persist would re-print its subtree through every
        # consumer (92 exchanges) for no eviction exposure at this size
        # ckpt-grain: slim-exception — see comment above: slim 2-col doc-grain frame, kept after the r11 audit
        .localCheckpoint(eager=False)
    )
    n_docs = scored.count()  # bounded driver scalar: the locate-rank literal
    k = n_docs // DSIR_SEL_DIV
    # Rank-localized k-th score (r10): the old orderBy().limit(k) with
    # k = n/5 funneled 20% of the corpus through one
    # TakeOrderedAndProject task — a scale-killer at 100x. Same device
    # as agg_histogram_equidepth_localized: (1) histogram over 1-nat
    # score buckets (grid bounded by the SCORE domain — log-weight
    # magnitude, not doc count); (2) descending cumulative over the
    # tiny grid locates the bucket holding global rank k and the local
    # rank within it; (3) only that bucket's rows are rescanned, and
    # the r_local-th (score DESC, doc_id ASC) row IS the exact k-th
    # (score, doc_id) boundary, broadcast back as before.
    hist = scored.groupBy(
        F.expr("score_e12 DIV 1000000000000").alias("sb")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wd = Window.orderBy(F.desc("sb")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    grid = hist.select("sb", "cnt", F.sum("cnt").over(wd).alias("cum"))
    located = grid.filter(
        (F.col("cum") >= k) & (F.col("cum") - F.col("cnt") < k)
    ).select("sb", (F.lit(k) - (F.col("cum") - F.col("cnt"))).alias("r_local"))
    sliver = scored.withColumn(
        "sb", F.expr("score_e12 DIV 1000000000000")
    ).join(F.broadcast(located), "sb")
    wsl = Window.partitionBy("sb").orderBy(
        F.desc("score_e12"), F.asc("doc_id")
    )
    kth = (
        sliver.withColumn("rk", F.row_number().over(wsl))
        .filter(F.col("rk") == F.col("r_local"))
        .agg(
            F.min(F.struct(F.col("score_e12"), (-F.col("doc_id")).alias("nid")))
            .alias("kth")
        )
    )
    sel = scored.crossJoin(F.broadcast(kth)).withColumn(
        "selected",
        (F.col("score_e12") > F.col("kth.score_e12"))
        | (
            (F.col("score_e12") == F.col("kth.score_e12"))
            & (F.col("doc_id") <= -F.col("kth.nid"))
        ),
    )
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if("selected").cast("bigint").alias("n_selected"),
        F.expr(
            "CAST((2 * 10000 * count_if(selected) + count(1))"
            " DIV (2 * count(1)) AS BIGINT)"
        ).alias("sel_bp"),
        F.sum("w_e12").cast("bigint").alias("sum_w_e12"),
    )
