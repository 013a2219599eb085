"""Similarity search over ``embeddings.embedding`` (array<float>, 64-d).

Brute-force exact cosine top-k is the oracle-checked correctness anchor
(SQL-expressible in both engines: aggregate/zip_with ↔ DuckDB
list_dot_product). The LSH-bucketed variant is the 100 TB scale path:
random-hyperplane signatures prune the candidate set so each query
compares against a bucket, not the whole corpus.

Scale design:
- dot/cosine are pure SQL higher-order functions → whole-stage codegen,
  no Python, no UDF.
- top-k per query via window row_number ≤ k — one shuffle on query id.
- The query set is broadcast against the corpus (queries ≪ corpus);
  at 100 TB the corpus side stays partitioned and never moves.
- Norms are precomputed once per side, not per pair.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import d53, davg, ddbl, sql_davg
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (matches DuckDB list_dot_product on
    the same float32 inputs widened to double)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


# Zero-norm exclusion (adversarial-values gate, r10): a zero vector has
# no direction, so every cosine against it is 0/0 — Spark ANSI raises
# DIVIDE_BY_ZERO where DuckDB silently yields NULL, a crash on one
# engine and a silent divergence on the other. Every similarity-math
# query therefore EXCLUDES zero-norm embeddings on BOTH engines: a
# map-side predicate evaluated once per row before any pairing, and a
# no-op on any corpus without degenerate vectors (all graded hashes
# unchanged). Queries that only measure vectors (norm stats, scaling,
# quantization histograms) keep zero rows but still require FINITE
# components (FINITE_VEC below) — a NaN/Inf component is a corrupted
# measurement: it poisons every integer-exactness cast (Spark ANSI
# CAST_OVERFLOW, DuckDB INT128 refusal) and both engines treat it as
# an absent vector, the same nullified semantics the planted-NULL
# audit proved for scalar columns.
# NULL-element vectors (r11, advisor finding): a vector like
# [0.1, NULL, 0.2] must be dropped by BOTH engines. Spark's forall
# yields NULL for it (lambda(NULL) is NULL, no element is false), and
# a NULL predicate drops the row under filter — but DuckDB's
# list_filter treats a NULL lambda result as FALSE, so the unpatched
# `x -> NOT isfinite(x)` twin kept the vector (len = 0): a silent
# cross-engine row-set divergence. The SQL twins therefore test
# `x IS NULL OR NOT isfinite(x)` so a NULL component counts as
# non-finite, matching Spark's drop. Pinned by the --adv fixture's
# planted NULL-element vector.
# (Functions, not module-level Columns: building a Column needs an
# active SparkContext, which doesn't exist at import time.)
def FINITE_VEC() -> Column:
    return F.forall(
        F.col("embedding"),
        lambda x: ~F.isnan(x) & (F.abs(x) != F.lit(float("inf"))),
    )


def NONZERO() -> Column:
    """Usable for cosine: every component finite AND norm > 0.

    ``exists(x != 0)`` genuinely implies ``l2_norm > 0`` HERE because
    the embedding column stores float32 and the norm accumulates in
    double: the smallest positive float32 magnitude is 2^-149, whose
    double-precision square is 2^-298 — far above the smallest
    positive subnormal double (2^-1074) — and squares cannot cancel,
    so the sum of squares of any vector with a nonzero float32
    component is >= 2^-298 > 0. Underflow-to-zero-norm would need
    double-typed components below ~2^-537, which this schema cannot
    store; if the embedding column is ever widened to double, switch
    this guard to the computed norm itself. Pinned by the subnormal
    probe in tests/test_adversarial_values.py.
    """
    return FINITE_VEC() & F.exists(F.col("embedding"), lambda x: x != F.lit(0.0))


FINITE_VEC_SQL = "len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
NONZERO_SQL = (
    "len(list_filter(embedding, x -> x <> 0)) > 0"
    " AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0"
)


@query(
    "knn_cosine_bruteforce",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe FROM embeddings
        WHERE vec_id < {N_QUERIES} AND len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), c AS (
        SELECT vec_id AS neighbor_id, embedding AS ce, label FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), scored AS (
        SELECT q.query_id, c.neighbor_id, c.label,
               list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(c.ce AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]), CAST(c.ce AS DOUBLE[])))) AS cos
        FROM q CROSS JOIN c
        WHERE q.query_id <> c.neighbor_id
    )
    SELECT query_id, neighbor_id, label AS neighbor_label, round(cos, 4) AS cosine, rn AS rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id ASC) AS rn
        FROM scored
    ) t WHERE rn <= {TOP_K}
    """,
)
def knn_cosine_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N_QUERIES vectors.

    Norms are computed ONCE PER SIDE before the cross join — inside the
    pair expression they would be re-derived per (query, neighbor) pair
    (k× per corpus row, N× per query). Same trick as the cosine
    near-dup anchor; the oracle may recompute per pair since the double
    math is bitwise identical either way."""
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ce"),
        "label",
        l2_norm(F.col("embedding")).alias("cn"),
    )
    cos = dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.col("label").alias("neighbor_label"),
            F.round("cos", 4).alias("cosine"),
            "rank",
        )
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
    WITH n AS (
        SELECT label,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS norm
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    )
    SELECT label,
           count(*) AS n_vecs,
           {sql_davg("norm", 4)} AS avg_norm,
           round(max(norm), 4) AS max_norm
    FROM n
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm stats — vector math staying fully JVM-side.

    The mean goes through an exact decimal sum: per-row norms are
    bit-identical across engines, but a double-summed mean is
    order-dependent and would not be (functions/numeric.py).

    ABSENT vectors are excluded on both engines (null-embedding
    probe): DuckDB's list_dot_product refuses a NULL list outright
    where Spark's fold yields NULL — a vector that was never computed
    has no norm; zero vectors DO report here (norm 0 is a fact)."""
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & FINITE_VEC())
        .withColumn("norm", l2_norm(F.col("embedding")))
    )
    return emb.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        davg(F.col("norm"), 4).alias("avg_norm"),
        F.round(F.max("norm"), 4).alias("max_norm"),
    )


# -- LSH / ANN scale path ----------------------------------------------------

N_HYPERPLANES = 12  # 12-bit random-hyperplane signature → ~4096 buckets


def _hyperplanes(dim: int = 64, n: int = N_HYPERPLANES, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed → stable
    buckets across runs and executors; no RNG at execution time)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n)]


def rp_signature(vec_col: Column, planes: list[list[float]]) -> Column:
    """Random-projection bit signature as int: bit_i = (vec · plane_i) > 0.

    The plane set rides in as ONE nested-array literal (plus a
    powers-of-two lookup) rather than n×dim literal nodes — same
    plan-compile win as the IVF centroid matrix."""
    matrix = F.lit([[float(v) for v in plane] for plane in planes])
    powers = F.lit([1 << i for i in range(len(planes))])
    idx = F.sequence(F.lit(0), F.lit(len(planes) - 1))
    return F.aggregate(
        F.zip_with(
            matrix,
            idx,
            lambda p, i: F.when(dot(vec_col, p) > 0, F.get(powers, i)).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    ).cast("int")


@query("knn_cosine_lsh")  # approximate (bucket pruning may miss) → rows-only
def knn_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH: candidates share a signature bucket
    (plus all 1-bit-flip probes of the query signature — multiprobe),
    then exact cosine re-rank inside the candidate set.

    At 100 TB the corpus is hash-partitioned by bucket; a query touches
    ~(1+bits) buckets instead of the full corpus. Recall is tunable via
    bits/probes; approximate by design → rows-only check, with the
    brute-force twin as the graded exact anchor.
    """
    planes = _hyperplanes()
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    corpus = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
        .withColumn("bucket", rp_signature(F.col("ce"), planes))
        .withColumn("cn", l2_norm(F.col("ce")))  # norm once per vector, not per pair
    )

    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        .withColumn("qsig", rp_signature(F.col("qe"), planes))
        .withColumn("qn", l2_norm(F.col("qe")))
    )
    # multiprobe: query signature + every 1-bit flip
    probes = F.array(F.col("qsig"), *[
        F.col("qsig").bitwiseXOR(F.lit(1 << i)) for i in range(N_HYPERPLANES)
    ])
    q_probed = queries.withColumn("bucket", F.explode(probes))

    cos = dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(q_probed)
        .join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rank")
    )


# -- IVF (inverted-file) ANN --------------------------------------------------

N_CELLS = 16  # coarse quantizer size
N_PROBE = 3  # cells searched per query


def _ivf_corpus_and_queries(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The IVF coarse quantizer's two sides: the corpus with its best
    cell (neighbor_id, ce, cell, cn) and the queries exploded over their
    N_PROBE best cells (query_id, qe, cell, qn)."""
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())

    # deterministic "training": the first N_CELLS corpus vectors ≥ id 100
    # act as centroids (disjoint from the query ids < N_QUERIES).
    cents = (
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 100 + N_CELLS))
        .orderBy("vec_id")
        .select("vec_id", "embedding")
        .collect()
    )
    # ONE nested array<array<double>> literal + a norms literal instead
    # of N_CELLS×dim separate literal nodes: the per-cell expansion cost
    # ~2000 plan nodes and compiled for seconds per run (measured 4.9 s
    # → 2.3 s for the whole query). Norms are plan-time constants.
    matrix = F.lit(
        [[float(x) for x in r["embedding"]] for r in cents]
    ).cast("array<array<double>>")
    norms = F.lit(
        [sum(float(x) * float(x) for x in r["embedding"]) ** 0.5 for r in cents]
    ).cast("array<double>")
    cell_idx = F.sequence(F.lit(0), F.lit(N_CELLS - 1))

    def cell_scores(vec: Column) -> Column:
        """array<struct<cos,cell>> sorted best-first (struct compare is
        field-order lexicographic, so negate cos for descending)."""
        return F.array_sort(
            F.zip_with(
                matrix,
                cell_idx,
                lambda c, i: F.struct(
                    (-dot(vec, c) / (l2_norm(vec) * F.get(norms, i))).alias("neg_cos"),
                    i.cast("int").alias("cell"),
                ),
            )
        )

    corpus = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
        .withColumn("cell", F.get(cell_scores(F.col("ce")), 0)["cell"])
        .withColumn("cn", l2_norm(F.col("ce")))  # norm once per vector, not per pair
    )

    queries = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        .withColumn(
            "cell", F.explode(F.slice(cell_scores(F.col("qe")).getField("cell"), 1, N_PROBE))
        )
        .withColumn("qn", l2_norm(F.col("qe")))
    )
    return corpus, queries


def _ivf_rerank(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """Exact cosine re-rank of each query's candidates in its probed
    cells: the TOP_K neighbors per query, best first."""
    cos = dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        F.broadcast(queries)
        .join(corpus, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cosine"), "rank")
    )


@query("knn_cosine_ivf")  # cell pruning may miss true neighbors → rows-only
def knn_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF-style coarse quantizer: N_CELLS fixed centroids
    (deterministic corpus samples — at scale, k-means centroids), every
    corpus vector assigned to its max-cosine cell, each query probing
    its N_PROBE best cells, exact cosine re-rank inside the probed set.

    Scale shape: the corpus is written hash-partitioned (or bucketed) by
    ``cell`` so one probe touches ~corpus/N_CELLS rows on a few
    partitions; centroids are a driver-side constant (k vectors, bytes)
    baked into the plan as literals — never a join. Assignment is one
    narrow map over the corpus; only the probed cells shuffle.
    """
    corpus, queries = _ivf_corpus_and_queries(spark, sf_dir)
    return _ivf_rerank(queries, corpus)


def _staged_cell_corpus(spark, sf_dir: str, corpus) -> str:
    """Write the cell-assigned corpus ONCE as parquet partitioned by
    ``cell`` (reused across runs via a row-count marker) — the on-disk
    layout the IVF docstrings promise: one directory per cell, so a
    probe touches only its cells' files."""
    import os
    import shutil
    import tempfile

    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), "leadsight_ivf", key)
    marker = os.path.join(d, "_STAGED")
    n = corpus.count()
    if os.path.isfile(marker):
        try:
            if int(open(marker).read().strip()) == n:
                return d
        except ValueError:
            pass
    shutil.rmtree(d, ignore_errors=True)
    corpus.write.partitionBy("cell").mode("overwrite").parquet(d)
    with open(marker, "w") as f:
        f.write(str(n))
    return d


@query("knn_cosine_ivf_pruned")  # approximate + scratch-staged → rows-only
def knn_cosine_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the REAL storage layout: the cell-assigned corpus is
    written partitioned by ``cell`` and probed through a broadcast join
    on the partition column, so Catalyst's dynamic partition pruning
    reads only the probed cells' files (~N_PROBE/N_CELLS of the data;
    the in-memory twin knn_cosine_ivf recomputes assignment per run).
    Results are identical to knn_cosine_ivf — pinned by a test — and
    the pruning itself is asserted in the plan-gate suite. At 100 TB
    this is exactly the layout an IVF index service maintains: assign
    once at ingest, prune at query time.
    """
    corpus, queries = _ivf_corpus_and_queries(spark, sf_dir)
    staged = spark.read.schema(corpus.schema).parquet(
        _staged_cell_corpus(spark, sf_dir, corpus)
    )
    return _ivf_rerank(queries, staged)


@query(
    "embedding_centroids_by_label",
    oracle="""
    SELECT label,
           CAST(gs.dim AS INTEGER) AS dim,
           round(avg(CAST(embedding[CAST(gs.dim AS INTEGER)] AS DOUBLE)), 6)
               AS centroid
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS gs(dim)
    GROUP BY label, gs.dim
    """,
)
def embedding_centroids_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors, emitted as (label, dim, centroid)
    rows — the coarse-quantizer training step for the IVF index above
    (knn_cosine_ivf bakes centroids as literals; this is where they
    come from) and the class-prototype primitive for embedding-space
    analytics.

    `posexplode` flattens each vector to (dim, value) rows, then ONE
    hash-agg on (label, dim) with map-side partials — no window, no
    collect. The explode multiplies rows by the dimension (64×) but
    each row is 20 bytes, and at 100 TB the alternative — aggregating
    whole arrays with `zip_with` in a reduce — cannot do map-side
    partial aggregation in DataFrame form; the exploded hash-agg can.
    Values are rounded to 6 decimals in both engines: a 1-ulp
    summation-order difference must not fail the hash gate.
    """
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid"))
    )


@query(
    "label_centroid_similarity",
    oracle="""
    WITH flat AS (
        SELECT label, CAST(gs.dim AS INTEGER) AS dim,
               avg(CAST(embedding[CAST(gs.dim AS INTEGER)] AS DOUBLE)) AS c
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS gs(dim)
        GROUP BY label, gs.dim
    ), pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.c * b.c) AS dp,
               sqrt(sum(a.c * a.c)) AS na,
               sqrt(sum(b.c * b.c)) AS nb
        FROM flat a JOIN flat b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b, round(dp / (na * nb), 4) AS cosine
    FROM pairs
    """,
)
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label centroid vectors —
    the class-confusability matrix of the embedding space (which labels
    a coarse quantizer or classifier will mix up).

    Composes the centroid aggregation with a dimension-aligned
    self-join: similarity is computed IN exploded (label, dim) form —
    `sum(a.c*b.c)` grouped by the label pair — so no array assembly,
    no UDF, and every stage keeps map-side partials. The label count
    is small by construction (classes, not rows), so the pair join is
    a broadcast; norms fold into the same aggregation that computes
    the dot products rather than a separate pass. Rounded to 4
    decimals in both engines (summation-order guard).
    """
    emb = load(spark, sf_dir, "embeddings")
    flat = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
    )
    a = flat.select(
        F.col("label").alias("label_a"), F.col("dim").alias("dim"), F.col("c").alias("ca")
    )
    b = flat.select(
        F.col("label").alias("label_b"), F.col("dim").alias("dim_b"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("dim") == F.col("dim_b")) & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ca") * F.col("cb")).alias("dp"),
            F.sqrt(F.sum(F.col("ca") * F.col("ca"))).alias("na"),
            F.sqrt(F.sum(F.col("cb") * F.col("cb"))).alias("nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(F.col("dp") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
    )


# -- K-means training (the IVF coarse quantizer's training step) -------------

KM_K = 8
KM_ITERS = 3


def kmeans_fit(spark: SparkSession, emb: DataFrame, k: int = KM_K, iters: int = KM_ITERS):
    """Lloyd's k-means over an embedding column, Spark-native.

    Deterministic init: the k corpus vectors with the smallest salted
    md5 of their id (a reproducible pseudo-random sample — same device
    as the sampling family). Each iteration: (1) assign every vector to
    its nearest centroid — centroids travel as ONE nested-array literal
    in the plan (the SURVEY §8.3 finding: one array literal beats ~k·d
    scalar nodes in both codegen and runtime, same as the IVF matrix);
    (2) recompute centroids as per-cluster per-dimension means via
    posexplode + one hash-agg (shuffle rows = n·d, key = (cluster,
    dim) — skew-free by construction).

    Driver round trips: k·d floats per iteration (the centroid matrix
    — bytes, the same documented exception as IVF's 16-row collect).
    Returns (centroids, per_iteration_inertia, assignments_df).
    """
    d = emb.select("vec_id", "embedding")
    init = (
        d.withColumn(
            "hk", F.md5(F.concat(F.lit("km:"), F.col("vec_id").cast("string")))
        )
        .orderBy("hk")
        .limit(k)
        .select("embedding")
        .collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in init]
    inertias = []
    assigned = None
    for _ in range(iters):
        cmat = F.lit(centroids).cast("array<array<double>>")

        def sq_dist(vec, ci):
            return F.aggregate(
                F.zip_with(
                    vec,
                    F.get(cmat, ci),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )

        dists = F.array(*[sq_dist(F.col("embedding"), i) for i in range(k)])
        assigned = d.select(
            "vec_id",
            "embedding",
            F.array_position(dists, F.array_min(dists)).cast("int").alias("cluster"),
            F.array_min(dists).alias("dist2"),
        )
        inertias.append(assigned.agg(F.sum("dist2")).first()[0])
        means = (
            assigned.select("cluster", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cluster", F.transform("dm", lambda s: s["m"]).alias("centroid"))
            .collect()
        )
        new_centroids = list(centroids)
        for r in means:
            new_centroids[r["cluster"] - 1] = [float(x) for x in r["centroid"]]
        centroids = new_centroids
    return centroids, inertias, assigned


@query("kmeans_train_embeddings")  # double-mean centroids → rows-only check
def kmeans_train_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 3 Lloyd iterations of k-means
    over the embedding corpus (see kmeans_fit). The graded output is
    the per-cluster profile (size + within-cluster sum of squares) —
    the artifact an IVF build job persists alongside the centroid
    matrix. Rows-only: centroid means are order-dependent double sums
    (the one aggregate family the decimal trick can't rescue, since
    means feed back into the next iteration); the unit layer pins the
    monotone-inertia invariant instead.

    FINITE vectors only (r11 NULL-element wave): an absent, NULL-
    element, or NaN/Inf vector can neither seed nor move a centroid
    (float(None) crashed the seed collect).
    """
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    _, _, assigned = kmeans_fit(spark, emb)
    return assigned.groupBy("cluster").agg(
        F.count("*").alias("n_vectors"),
        F.sum("dist2").alias("wcss"),
    )


@query("embedding_quantize_int8")  # float round path → rows-only check
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding corpus — the 4×
    storage/bandwidth cut every 100 TB vector pipeline takes before
    ANN serving: per-DIMENSION min/max (one posexplode + hash-agg),
    affine map to 0..255, and the reconstruction-error profile
    (max |err| must stay ≤ half a quantization step of the widest
    dimension — pinned in tests). The dequantized compare runs in the
    same plan, so the query IS the calibration report a quantizer job
    emits. Rows-only: round() on doubles differs at half-ulp
    boundaries across engines.

    FINITE vectors only (NaN/Inf probe): a NaN component crashed the
    0..255 ANSI cast; corrupted measurements don't calibrate.
    """
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    dims = emb.select("vec_id", F.posexplode("embedding").alias("dim", "x")).withColumn(
        "x", F.col("x").cast("double")
    )
    ranges = dims.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    q = (
        dims.join(F.broadcast(ranges), "dim")
        .withColumn("step", (F.col("hi") - F.col("lo")) / F.lit(255.0))
        .withColumn(
            # A constant-valued dimension has hi == lo → step 0, and
            # (x-lo)/step would be NaN; NaN sorts greatest in Spark's
            # max() and would poison the whole calibration report.
            # Degenerate dims quantize to code 0 with zero error.
            "code",
            F.when(F.col("step") == 0.0, F.lit(0)).otherwise(
                F.round((F.col("x") - F.col("lo")) / F.col("step")).cast("int")
            ),
        )
        .withColumn("xhat", F.col("lo") + F.col("code") * F.col("step"))
        .withColumn("err", F.abs(F.col("x") - F.col("xhat")))
    )
    return q.agg(
        F.count("*").alias("n_cells"),
        F.max("err").alias("max_abs_err"),
        F.avg(F.col("err") * F.col("err")).alias("mse"),
        F.max("step").alias("max_step"),
    )


@query("ann_recall_report")  # compares two approximate paths → rows-only
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality calibration — the report a pipeline runs before
    committing to an index configuration: recall@k of each approximate
    path (hyperplane LSH multiprobe, IVF probe) against the exact
    brute-force top-k, as integer basis points (hits·10000 // (queries·k),
    no float ratio). Deterministic: every path hashes deterministically,
    so this report is a pure function of the corpus — pinned bounds in
    tests, rows-only (it compares two Spark pipelines; there is nothing
    for a SQL oracle to re-derive that the exact anchor doesn't already
    grade).

    Scale: the exact side is the bounded N_QUERIES anchor (broadcast),
    each approximate side is its existing plan; the comparison joins
    k·N_QUERIES-row frames — driver-negligible.
    """
    exact = knn_cosine_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    n_expected = exact.count()  # N_QUERIES * TOP_K (k rows per query)
    reports = []
    for method, fn in (("lsh", knn_cosine_lsh), ("ivf", knn_cosine_ivf)):
        approx = fn(spark, sf_dir).select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"], "left_semi").count()
        reports.append((method, n_expected, hits))
    return spark.createDataFrame(
        reports, "method STRING, n_expected BIGINT, n_hits BIGINT"
    ).select(
        "method",
        "n_expected",
        "n_hits",
        F.expr(
            "CAST((n_hits * 10000) DIV nullif(n_expected, 0) AS BIGINT)"
        ).alias(
            "recall_bp"
        ),
    )


PQ_M = 4  # subspaces
PQ_K = 16  # codewords per subspace → 4 bits/subspace, 2 bytes/vector
PQ_ITERS = 2


def pq_train(spark: SparkSession, emb: DataFrame, dim: int):
    """Train product-quantization codebooks for ALL subspaces jointly.

    A per-subspace loop of kmeans_fit calls would launch
    PQ_M × PQ_ITERS × 2 driver jobs (measured 54 s at sf0.01); instead
    every vector explodes once into (vec_id, subspace, subvec) rows and
    each Lloyd iteration is ONE assignment expression + ONE means
    aggregation over all subspaces together — the codebooks travel as a
    single 3-level nested literal ([subspace][code][dim], the §8.3
    one-literal rule) indexed by the row's subspace. Job count is
    independent of PQ_M, which is what lets a 64-subspace config train
    in the same number of passes as this 4-subspace one.

    Deterministic init: per subspace, the PQ_K subvectors with the
    smallest salted md5 of (subspace, vec_id). Returns
    (centroids[m][k][sd], assigned) where assigned has one row per
    (vec_id, subspace) with its code and squared reconstruction error.
    """
    sd = dim // PQ_M
    sub = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("subspace"),
                        F.slice("embedding", m * sd + 1, sd).alias("subvec"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", "s.subspace", "s.subvec")

    w = Window.partitionBy("subspace").orderBy("hk")
    init = (
        sub.withColumn(
            "hk",
            F.md5(
                F.concat_ws(":", F.lit("pq"), F.col("subspace"), F.col("vec_id"))
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_K)
        .select("subspace", "rn", "subvec")
        .collect()
    )
    centroids: list[list[list[float]]] = [
        [None] * PQ_K for _ in range(PQ_M)  # type: ignore[list-item]
    ]
    for r in init:
        centroids[r["subspace"]][r["rn"] - 1] = [float(x) for x in r["subvec"]]
    if any(c is None for cs in centroids for c in cs):
        raise ValueError(
            f"PQ needs at least PQ_K={PQ_K} vectors per subspace to seed "
            "codebooks; corpus is smaller than the codebook"
        )

    def _assign(cents: list[list[list[float]]]) -> DataFrame:
        cmat = F.lit(cents).cast(  # [M][K][sd] — one literal, M·K·sd floats
            "array<array<array<double>>>"
        )
        my_cents = F.get(cmat, F.col("subspace"))
        dists = F.transform(
            my_cents,
            lambda c: F.aggregate(
                F.zip_with(
                    F.col("subvec"),
                    c,
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        return sub.select(
            "vec_id",
            "subspace",
            "subvec",
            F.array_position(dists, F.array_min(dists)).cast("int").alias("code"),
            F.array_min(dists).alias("dist2"),
        )

    for _ in range(PQ_ITERS):
        assigned = _assign(centroids)
        means = (
            assigned.select("subspace", "code", F.posexplode("subvec").alias("dim", "x"))
            .groupBy("subspace", "code", "dim")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("subspace", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select(
                "subspace", "code", F.transform("dm", lambda s: s["m"]).alias("centroid")
            )
            .collect()  # ≤ M·K rows of sd floats — bytes
        )
        centroids = [list(cs) for cs in centroids]
        for r in means:
            centroids[r["subspace"]][r["code"] - 1] = [float(x) for x in r["centroid"]]
    # One final assignment against the post-update codebooks, so the
    # (codes, dist2) report corresponds to the SAME centroids that are
    # returned/persisted — the in-loop `assigned` lags the means update
    # by one iteration.
    return centroids, _assign(centroids)


@query("embedding_pq_quantize")  # float centroid means → rows-only check
def embedding_pq_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the vector-compression workhorse between
    scalar int8 (4× cut, embedding_quantize_int8) and the IVF coarse
    quantizer (knn_cosine_ivf): 64-dim float vectors become PQ_M=4
    codes of 4 bits (2 bytes/vector, 128× cut), the memory layout ANN
    serving actually ships at 100 TB. Output is the calibration report
    a PQ build job emits: per-subspace codebook profile (vectors,
    codewords used, within-cluster sum of squares = reconstruction
    error of that subspace) — the artifact persisted next to the
    codebook matrices.

    Distribution: per-subspace Lloyd training on subvector slices (no
    data is reshaped — `slice()` on the array column is map-side);
    driver traffic is PQ_M codebooks of k×(dim/PQ_M) floats. Rows-only:
    centroid means are order-dependent double sums (same class as
    kmeans_train_embeddings); the monotone-inertia and
    error-vs-variance invariants are unit-pinned instead
    (tests/test_dedup_similarity.py).

    NULL embeddings are dropped before training (null-embedding
    probe), and so are NULL-ELEMENT / NaN/Inf vectors (r11 wave:
    float(None) crashed the codebook collect): an absent or corrupted
    vector can neither train nor receive a code — the driver-side dim
    sniff and the explode both require rows; zero vectors are legal
    PQ inputs and stay."""
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    head = emb.select("embedding").first()
    if head is None:  # empty corpus: nothing to train, empty report
        return spark.createDataFrame(
            [],
            "subspace INT, sub_dim INT, k INT, n_vectors BIGINT,"
            " codes_used BIGINT, wcss DOUBLE",
        )
    dim = len(head["embedding"])
    _, assigned = pq_train(spark, emb, dim)
    prof = assigned.groupBy("subspace").agg(
        F.count("*").alias("n_vectors"),
        F.count_distinct("code").alias("codes_used"),
        F.sum("dist2").alias("wcss"),
    )
    return prof.select(
        "subspace",
        F.lit(dim // PQ_M).alias("sub_dim"),
        F.lit(PQ_K).alias("k"),
        "n_vectors",
        "codes_used",
        "wcss",
    )


@query(
    "embedding_feature_scale",
    oracle="""
    WITH flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), stats AS (
        SELECT dim,
               ((CAST(CAST((CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000000 AS DOUBLE)) AS sx,
               ((CAST(CAST((CAST(CAST(sum(CAST(round(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)), 12) AS DECIMAL(14,12))) * 1000000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(round(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)), 12) AS DECIMAL(14,12))) * 1000000000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(round(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)), 12) AS DECIMAL(14,12))) * 1000000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000000000 AS DOUBLE)) AS sxx,
               count(*) AS n,
               min(x) AS mn, max(x) AS mx
        FROM flat GROUP BY 1
    ), scaled AS (
        SELECT f.vec_id, f.dim,
               round((f.x - s.sx / s.n)
                     / sqrt((s.sxx - s.sx * s.sx / s.n) / (s.n - 1)), 6) AS z,
               round((f.x - s.mn) / (s.mx - s.mn), 6) AS mm
        FROM flat f JOIN stats s USING (dim)
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           array_to_string(
               list(CAST(CAST(z AS DECIMAL(15,6)) AS VARCHAR) ORDER BY dim),
               ',') AS z_vec,
           array_to_string(
               list(CAST(CAST(mm AS DECIMAL(15,6)) AS VARCHAR) ORDER BY dim),
               ',') AS mm_vec
    FROM scaled
    GROUP BY 1
    """,
)
def embedding_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature scaling of the embedding corpus — the
    standard prep pass before quantization / PQ / distance work when
    dimensions carry different spreads: z-score ((x-mean)/sd) and
    min-max ((x-min)/(max-min)) variants, re-assembled in dimension
    order as array columns.

    Cross-engine exactness: per-dim Σx and Σx² accumulate in
    DECIMAL(18,9) (order-independent; |x| < 1 so the cast is lossless
    at any accumulation order), mean/variance then evaluate as the
    IDENTICAL double expression in both engines (same device as
    agg_stats_moments), and the scaled values round at 6dp. The
    vectors serialize as CSV strings — each element cast
    double→DECIMAL(15,6)→string, because decimal-to-string formatting
    is fixed-scale and identical across engines while double-to-string
    is not, and because array-typed graded cells crash pandas-side
    canonicalizers (round-5 driver finding).

    At 100 TB: posexplode → one hash-agg at dimension grain (64 groups
    — partials collapse map-side, ~nothing moves), stats broadcast back
    onto the exploded frame, and the only real shuffle is the re-group
    by vec_id to rebuild arrays. For a pure pipeline (no materialized
    stats table) the same math can run explode-free via F.transform
    against a broadcast stats literal; the explode form keeps the stats
    frame first-class (it IS the calibration artifact worth persisting
    next to the corpus).
    """
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),  # ordinality-aligned with the oracle
        F.col("vf").cast("double").alias("x"),
    )
    xd = F.col("x").cast("decimal(18,9)")
    # r13 (plan-lint R9): per-dim sums grow with corpus size — d53s
    # split conversions (scale 9 for the sum, 18 for the square sum).
    stats = flat.groupBy("dim").agg(
        ddbl(F.sum(xd), 9).alias("sx"),
        # x^2 quantizes at 12dp before summing (|x| <= 1, so the term
        # is DECIMAL(14,12)-narrow): keeps the d53s unscale inside
        # DuckDB's 38-digit multiply headroom at ANY corpus size
        # (scale-18 unscaling overflows once sum(x^2) >= 100).
        ddbl(F.sum(F.round(xd * xd, 12).cast("decimal(14,12)")), 12).alias("sxx"),
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("mn"),
        F.max("x").alias("mx"),
    )
    mean = F.col("sx") / F.col("n")
    # nullif guards (r10): a single-vector corpus (n-1 = 0) or a
    # constant dimension (sd = 0, mx = mn) raises under Spark ANSI
    # where DuckDB's division yields NULL — NULL z/mm on both engines.
    sd = F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        / F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0))
    )
    scaled = flat.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.round((F.col("x") - mean) / F.nullif(sd, F.lit(0.0)), 6).alias("z"),
        F.round(
            (F.col("x") - F.col("mn"))
            / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0)),
            6,
        ).alias(
            "mm"
        ),
    )
    # nullif('') on the assembled strings (r10): with every element
    # NULL (degenerate single-vector/constant-dim corpus) Spark's
    # concat_ws skips nulls and yields '' while DuckDB's string_agg
    # yields NULL — align on NULL; '' cannot occur otherwise (any
    # surviving element renders non-empty).
    assembled = scaled.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.nullif(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "z"))),
                    lambda s: s.z.cast("decimal(15,6)").cast("string"),
                ),
            ),
            F.lit(""),
        ).alias("z_vec"),
        F.nullif(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mm"))),
                    lambda s: s.mm.cast("decimal(15,6)").cast("string"),
                ),
            ),
            F.lit(""),
        ).alias("mm_vec"),
    )
    return assembled


RRF_K = 60  # the standard fusion constant (Cormack et al., SIGIR'09)
RRF_SHORTLIST = 50  # per-ranking shortlist depth contributing to fusion
RRF_TOP = 10  # fused results returned per query
N_RRF_QUERIES = 5


@query(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings
        WHERE vec_id < {N_RRF_QUERIES} AND len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), c AS (
        SELECT vec_id AS doc_id, embedding AS ce FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), scored AS (
        SELECT q.query_id, c.doc_id,
               list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(c.ce AS DOUBLE[]))
               / (sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[])))
                  * sqrt(list_dot_product(CAST(c.ce AS DOUBLE[]), CAST(c.ce AS DOUBLE[])))) AS cos,
               list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(q.qe AS DOUBLE[]))
               + list_dot_product(CAST(c.ce AS DOUBLE[]), CAST(c.ce AS DOUBLE[]))
               - 2 * list_dot_product(CAST(q.qe AS DOUBLE[]), CAST(c.ce AS DOUBLE[])) AS dist2
        FROM q CROSS JOIN c
        WHERE q.query_id <> c.doc_id
    ), ranked AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, doc_id ASC) AS rank_cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dist2 ASC, doc_id ASC) AS rank_l2
        FROM scored
    ), fused AS (
        SELECT query_id, doc_id, rank_cos, rank_l2,
               CAST(CASE WHEN rank_cos <= {RRF_SHORTLIST}
                         THEN 1000000 // ({RRF_K} + rank_cos) ELSE 0 END
                  + CASE WHEN rank_l2 <= {RRF_SHORTLIST}
                         THEN 1000000 // ({RRF_K} + rank_l2) ELSE 0 END
                  AS BIGINT) AS rrf_micro
        FROM ranked
        WHERE rank_cos <= {RRF_SHORTLIST} OR rank_l2 <= {RRF_SHORTLIST}
    )
    SELECT query_id, doc_id, rank_cos, rank_l2, rrf_micro, rn AS fused_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf_micro DESC, doc_id ASC) AS rn
        FROM fused
    ) t WHERE rn <= {RRF_TOP}
    """,
)
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankings (Cormack et
    al.: score = Σ 1/(k + rank)) — the standard hybrid-search combiner
    for lexical + vector shortlists, here fusing a cosine ranking with
    a Euclidean ranking of the same corpus. Fusion uses only RANKS, so
    the notoriously un-mixable raw scores never meet; contributions in
    integer micro-units (10^6 DIV (60 + rank)), so the fused order and
    the graded output are float-free.

    Exactness: cosine reuses the proven dot/norm device; the L2 term
    is composed from the SAME dot products (|a|² + |b|² − 2a·b —
    identical doubles in both engines, no new fold primitive), and
    every downstream step is integer. Ties break on doc_id at every
    ranking stage, so all three row_numbers are total orders.

    Scale: the exact full-corpus ranking is the ANCHOR form; in
    production the two shortlists come from the ANN paths
    (knn_cosine_lsh / knn_cosine_ivf) and this same fuse-over-union
    plan runs on their output — rankings contribute only inside the
    top-{RRF_SHORTLIST}, exactly as fused here. Queries broadcast; the
    corpus never moves; top-k per query is a WindowGroupLimit.
    """
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    queries = emb.filter(F.col("vec_id") < N_RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        dot(F.col("embedding"), F.col("embedding")).alias("qq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("ce"),
        dot(F.col("embedding"), F.col("embedding")).alias("cc"),
    )
    qc = dot(F.col("qe"), F.col("ce"))
    pairs = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("doc_id"))
        .withColumn("cos", qc / (F.sqrt(F.col("qq")) * F.sqrt(F.col("cc"))))
        .withColumn("dist2", F.col("qq") + F.col("cc") - 2 * qc)
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    w_l2 = Window.partitionBy("query_id").orderBy(F.asc("dist2"), F.asc("doc_id"))
    contrib = (
        f"CAST(CASE WHEN rank_cos <= {RRF_SHORTLIST}"
        f" THEN 1000000 DIV ({RRF_K} + rank_cos) ELSE 0 END"
        f" + CASE WHEN rank_l2 <= {RRF_SHORTLIST}"
        f" THEN 1000000 DIV ({RRF_K} + rank_l2) ELSE 0 END AS BIGINT)"
    )
    fused = (
        pairs.withColumn("rank_cos", F.row_number().over(w_cos))
        .withColumn("rank_l2", F.row_number().over(w_l2))
        .filter(
            (F.col("rank_cos") <= RRF_SHORTLIST) | (F.col("rank_l2") <= RRF_SHORTLIST)
        )
        .withColumn("rrf_micro", F.expr(contrib))
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"), F.asc("doc_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w_f))
        .filter(F.col("fused_rank") <= RRF_TOP)
        .select(
            "query_id", "doc_id", "rank_cos", "rank_l2", "rrf_micro", "fused_rank"
        )
    )


EMB_LEAK_THRESHOLD = 0.35  # same near-orthogonal-corpus percentile as
# neardup_embedding_cosine: ~99.9th pairwise, so the gate flags real rows
_EMB_SPLIT_THRESH = "e6666666"  # hash < this (90 %) -> train, else eval


@query(
    "leakage_embedding_cosine_cross_split",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               CASE WHEN substring(md5('embsplit:' || CAST(vec_id AS VARCHAR)), 1, 8)
                         < '{_EMB_SPLIT_THRESH}'
                    THEN 'train' ELSE 'eval' END AS split
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), n AS (
        SELECT vec_id, emb, split,
               sqrt(list_dot_product(emb, emb)) AS nrm FROM e
    )
    SELECT ev.vec_id AS eval_vec_id,
           count(*) AS n_train_matches,
           max(round(list_dot_product(ev.emb, tr.emb) / (ev.nrm * tr.nrm), 4))
               AS max_cosine
    FROM n ev JOIN n tr
      ON ev.split = 'eval' AND tr.split = 'train'
    WHERE round(list_dot_product(ev.emb, tr.emb) / (ev.nrm * tr.nrm), 4)
          >= {EMB_LEAK_THRESHOLD}
    GROUP BY 1
    """,
)
def leakage_embedding_cosine_cross_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC cross-split contamination: eval vectors whose cosine to
    some train vector clears the near-dup threshold — the fourth leg
    of the leakage battery (prefix fingerprint, exact Jaccard, MinHash
    bands, now embedding space), and the one that catches paraphrases
    the lexical gates miss. Output per contaminated eval vector: how
    many train neighbors and the worst similarity — the drop list an
    eval-hygiene pass materializes.

    The split is the engine's standard salted-hash draw (no assignment
    table; membership recomputable from the key alone). The 10 % eval
    side BROADCASTS against the partitioned train corpus — same
    asymmetry as knn: the big side never moves, and at 100 TB the
    exact scan is replaced by the ANN shortlist (knn_cosine_lsh/ivf)
    feeding this same threshold+group plan. Cosine reuses the proven
    dot/norm device; the threshold compares the ROUNDED value so the
    boundary is engine-safe.
    """
    from leadsight_sales_agent_spark.operators.sampling import hash_key

    emb = load(spark, sf_dir, "embeddings").filter(NONZERO()).select(
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        F.when(
            hash_key("embsplit:", F.col("vec_id")) < F.lit(_EMB_SPLIT_THRESH),
            "train",
        )
        .otherwise("eval")
        .alias("split"),
    )
    ev = emb.filter(F.col("split") == "eval").select(
        F.col("vec_id").alias("eval_vec_id"),
        F.col("embedding").alias("ee"),
        F.col("nrm").alias("en"),
    )
    tr = emb.filter(F.col("split") == "train").select(
        F.col("embedding").alias("te"), F.col("nrm").alias("tn")
    )
    cos = F.round(dot(F.col("ee"), F.col("te")) / (F.col("en") * F.col("tn")), 4)
    return (
        F.broadcast(ev)
        .crossJoin(tr)
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= EMB_LEAK_THRESHOLD)
        .groupBy("eval_vec_id")
        .agg(
            F.count("*").alias("n_train_matches"),
            F.max("cosine").alias("max_cosine"),
        )
    )


COARSE_DIMS = 16  # prefix dimensions for the cheap first pass
COARSE_SHORTLIST = 50  # survivors handed to the exact reranker
RERANK_TOP = 10


@query(
    "retrieval_coarse_to_fine_rerank",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings WHERE vec_id < {N_RRF_QUERIES}
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), c AS (
        SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), coarse AS (
        SELECT q.query_id, c.doc_id, q.qe, c.ce,
               list_dot_product(q.qe[1:{COARSE_DIMS}], c.ce[1:{COARSE_DIMS}])
                   AS coarse_dot,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_dot_product(q.qe[1:{COARSE_DIMS}],
                                             c.ce[1:{COARSE_DIMS}]) DESC,
                            c.doc_id ASC) AS coarse_rank
        FROM q CROSS JOIN c WHERE q.query_id <> c.doc_id
    ), fine AS (
        SELECT query_id, doc_id, coarse_rank,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 4) AS cosine,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(qe, ce)
                            / (sqrt(list_dot_product(qe, qe))
                               * sqrt(list_dot_product(ce, ce))) DESC,
                            doc_id ASC) AS fine_rank
        FROM coarse WHERE coarse_rank <= {COARSE_SHORTLIST}
    )
    SELECT query_id, doc_id, coarse_rank, cosine, fine_rank
    FROM fine WHERE fine_rank <= {RERANK_TOP}
    """,
)
def retrieval_coarse_to_fine_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine retrieval (the Matryoshka / PQ-rerank pattern):
    a CHEAP first pass scores only the first {COARSE_DIMS} of 64
    dimensions (4x less arithmetic and — with dimension-sliced
    storage — 4x less I/O), keeps a {COARSE_SHORTLIST}-candidate
    shortlist per query, and only the shortlist pays the full-width
    exact cosine. The two-stage contract is the production shape of
    every modern vector stack (coarse ANN / binary / truncated dims,
    then exact rerank); here both stages are deterministic, so the
    WHOLE cascade is oracle-checked — including the shortlist
    boundary, since the coarse rank's (dot, doc_id) order is total.

    Same engine devices as the rest of the family: slice() for the
    prefix dims, the proven dot fold, broadcast queries, corpus never
    moves, WindowGroupLimit on both row_number filters. The recall
    gap of the truncation (fine winners outside the shortlist) is the
    accepted trade — measured for the ANN paths by ann_recall_report.
    """
    # FINITE_VEC on both sides (r11 NULL-element wave): DuckDB's
    # list_dot_product refuses a list CONTAINING NULL outright, and
    # absent/corrupted vectors can't rank; zero vectors keep their
    # r10-pinned NaN-cosine contract (double division never raises).
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    queries = emb.filter(F.col("vec_id") < N_RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.slice(F.col("embedding"), 1, COARSE_DIMS).alias("qs"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("ce"),
        F.slice(F.col("embedding"), 1, COARSE_DIMS).alias("cs"),
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.desc("coarse_dot"), F.asc("doc_id")
    )
    shortlist = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("doc_id"))
        .withColumn("coarse_dot", dot(F.col("qs"), F.col("cs")))
        .withColumn("coarse_rank", F.row_number().over(w_coarse))
        .filter(F.col("coarse_rank") <= COARSE_SHORTLIST)
    )
    cosine = dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    w_fine = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("doc_id"))
    return (
        shortlist.withColumn("cos_raw", cosine)
        .withColumn("fine_rank", F.row_number().over(w_fine))
        .filter(F.col("fine_rank") <= RERANK_TOP)
        .select(
            "query_id",
            "doc_id",
            "coarse_rank",
            F.round("cos_raw", 4).alias("cosine"),
            "fine_rank",
        )
    )


BQ_SHORTLIST = 40  # Hamming-ranked candidates that pay the exact rerank
BQ_TOP = 10


@query(
    "retrieval_binary_quantization",
    oracle=f"""
    WITH sig AS (
        SELECT vec_id,
               CAST(embedding AS DOUBLE[]) AS emb,
               (SELECT CAST(sum(CASE WHEN (CAST(embedding AS DOUBLE[]))[g.i] > 0
                                     THEN CAST(1 AS BIGINT) << (g.i - 1)
                                     ELSE 0 END) AS BIGINT)
                FROM unnest(generate_series(1, 63)) AS g(i)) AS sig
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe, sig AS qsig FROM sig
        WHERE vec_id < {N_RRF_QUERIES}
    ), ham AS (
        SELECT q.query_id, c.vec_id AS doc_id, q.qe, c.emb AS ce,
               bit_count(xor(q.qsig, c.sig)) AS hamming,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY bit_count(xor(q.qsig, c.sig)) ASC,
                            c.vec_id ASC) AS ham_rank
        FROM q CROSS JOIN sig c
        WHERE q.query_id <> c.vec_id
    ), rer AS (
        SELECT query_id, doc_id, hamming, ham_rank,
               round(list_dot_product(qe, ce)
                     / (sqrt(list_dot_product(qe, qe))
                        * sqrt(list_dot_product(ce, ce))), 4) AS cosine,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_dot_product(qe, ce)
                            / (sqrt(list_dot_product(qe, qe))
                               * sqrt(list_dot_product(ce, ce))) DESC,
                            doc_id ASC) AS fine_rank
        FROM ham WHERE ham_rank <= {BQ_SHORTLIST}
    )
    SELECT query_id, doc_id, hamming, ham_rank, cosine, fine_rank
    FROM rer WHERE fine_rank <= {BQ_TOP}
    """,
)
def retrieval_binary_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized retrieval — the 1-bit-per-dimension compression
    of the moment (64 dims → one BIGINT, a 256x storage cut at
    float32): sign-bit signatures built in one array fold, candidates
    ranked by HAMMING distance (xor + bit_count — pure integer, SIMD
    on any hardware), and only the top-{BQ_SHORTLIST} pay the exact
    cosine rerank. Completes the engine's quantization ladder (int8
    affine, product quantization, binary) and mirrors the
    coarse-to-fine cascade with an even cheaper first stage; unlike
    SimHash's random hyperplanes this quantizes the RAW sign pattern,
    so the signature is also the storable index column. Dimension 64
    is dropped to keep the signature in the 63 positive bits of a
    BIGINT (no unsigned 64-bit in either engine — the documented
    1-dim information loss of this representation).

    Fully deterministic both stages → the whole cascade
    oracle-checks, shortlist boundary included (Hamming ties break on
    doc_id). Queries broadcast; signatures cost 8 bytes/row of
    shuffle; the corpus never moves.
    """
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    sig_col = F.expr(
        "aggregate(zip_with(slice(embedding, 1, 63), sequence(0, 62),"
        " (v, i) -> IF(v > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i),"
        " CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    sig = emb.select(
        "vec_id", F.col("embedding").alias("emb"), sig_col.alias("sig")
    )
    q = sig.filter(F.col("vec_id") < N_RRF_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("sig").alias("qsig"),
    )
    ham = (
        F.broadcast(q)
        .crossJoin(sig.select(F.col("vec_id").alias("doc_id"), F.col("emb").alias("ce"), "sig"))
        .filter(F.col("query_id") != F.col("doc_id"))
        .withColumn("hamming", F.bit_count(F.col("qsig").bitwiseXOR(F.col("sig"))))
        .withColumn(
            "ham_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.asc("hamming"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("ham_rank") <= BQ_SHORTLIST)
    )
    cosine = dot(F.col("qe"), F.col("ce")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe"))) * F.sqrt(dot(F.col("ce"), F.col("ce")))
    )
    return (
        ham.withColumn("cos_raw", cosine)
        .withColumn(
            "fine_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("cos_raw"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("fine_rank") <= BQ_TOP)
        .select(
            "query_id",
            "doc_id",
            "hamming",
            "ham_rank",
            F.round("cos_raw", 4).alias("cosine"),
            "fine_rank",
        )
    )


HYBRID_QUERY_VEC = 0  # the query embedding; doc 0 is excluded from both legs
HYBRID_SHORTLIST = 50
HYBRID_TOP = 10


def _hybrid_oracle() -> str:
    from leadsight_sales_agent_spark.operators.text import (
        BM25_B,
        BM25_K1,
        BM25_TERMS,
    )

    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS t
        FROM documents WHERE length(trim(text)) > 0 AND doc_id <> {HYBRID_QUERY_VEC}
    ), dl AS (
        SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1
    ), stats AS (
        SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total_dl FROM dl
    ), tf AS (
        SELECT doc_id, t, count(*) AS tf FROM tok
        WHERE t IN {BM25_TERMS} GROUP BY 1, 2
    ), idf AS (
        SELECT t, CAST(round(ln(1 + (CAST(s.n AS DOUBLE) - df + 0.5)
                                   / (df + 0.5)) * 1000000) AS BIGINT) AS idf_micro
        FROM (SELECT t, count(*) AS df FROM tf GROUP BY 1) d CROSS JOIN stats s
    ), lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS lex_rank
        FROM (
            SELECT f.doc_id,
                   sum(i.idf_micro * ((f.tf * ({BM25_K1} + 1))
                       / (f.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B}
                          * (d.dl / (CAST(s.total_dl AS DOUBLE) / s.n))))))
                       AS score_micro
            FROM tf f
            JOIN dl d ON d.doc_id = f.doc_id
            JOIN idf i ON i.t = f.t
            CROSS JOIN stats s GROUP BY f.doc_id
        )
    ), qv AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        WHERE vec_id = {HYBRID_QUERY_VEC}
          AND len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), vec AS (
        SELECT c.vec_id AS doc_id,
               row_number() OVER (
                   ORDER BY list_dot_product(q.qe, CAST(c.embedding AS DOUBLE[]))
                            / (sqrt(list_dot_product(q.qe, q.qe))
                               * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                                       CAST(c.embedding AS DOUBLE[]))))
                            DESC, c.vec_id ASC) AS vec_rank
        FROM embeddings c CROSS JOIN qv q
        WHERE c.vec_id <> {HYBRID_QUERY_VEC}
          AND len(list_filter(c.embedding, x -> x <> 0)) > 0
          AND len(list_filter(c.embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.lex_rank, v.vec_rank,
               CAST(COALESCE(CASE WHEN l.lex_rank <= {HYBRID_SHORTLIST}
                                  THEN 1000000 // (60 + l.lex_rank) END, 0)
                  + COALESCE(CASE WHEN v.vec_rank <= {HYBRID_SHORTLIST}
                                  THEN 1000000 // (60 + v.vec_rank) END, 0)
                  AS BIGINT) AS rrf_micro
        FROM (SELECT * FROM lex WHERE lex_rank <= {HYBRID_SHORTLIST}) l
        FULL OUTER JOIN (SELECT * FROM vec
                         WHERE vec_rank <= {HYBRID_SHORTLIST}) v
          ON l.doc_id = v.doc_id
    )
    SELECT doc_id, lex_rank, vec_rank, rrf_micro, rn AS fused_rank
    FROM (
        SELECT *, row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS rn
        FROM fused
    ) t WHERE rn <= {HYBRID_TOP}
    """


@query("retrieval_hybrid_bm25_vector", oracle=_hybrid_oracle())
def retrieval_hybrid_bm25_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE hybrid search — the production retrieval stack in one
    graded plan: a BM25 lexical shortlist over ``documents`` and an
    exact-cosine vector shortlist over ``embeddings`` (the corpora
    share the id space), fused by reciprocal rank on the shared id.
    A document surfaces by keywords, by meaning, or both; ranks —
    not raw scores — meet, so the two legs' incomparable scales never
    mix (the RRF rationale). Composes three already-graded devices:
    the BM25 scorer (integer micro-nat idf + correctly-rounded tf
    part), the knn cosine (proven dot/norm fold), and RRF's integer
    contributions; a leg absent from a shortlist simply contributes
    zero via the FULL OUTER fuse.

    100 TB: each leg is its own bounded shortlist (WindowGroupLimit);
    the fuse joins two {HYBRID_SHORTLIST}-row relations — broadcast
    trivially; the legs scan DIFFERENT tables and can run as
    independent stages.
    """
    from leadsight_sales_agent_spark.operators.text import BM25_TERMS, _bm25_scores

    docs = (
        load(spark, sf_dir, "documents")
        .filter(
            (F.length(F.trim("text")) > 0) & (F.col("doc_id") != HYBRID_QUERY_VEC)
        )
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
    )
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").alias("n"), F.sum("dl").cast("long").alias("total_dl"))
    tf = (
        tok.filter(F.col("t").isin(*BM25_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    lex = (
        _bm25_scores(tf, dl, stats)
        .withColumn(
            "lex_rank",
            F.row_number().over(Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))),
        )
        .filter(F.col("lex_rank") <= HYBRID_SHORTLIST)
        .select("doc_id", "lex_rank")
    )
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    qv = emb.filter(F.col("vec_id") == HYBRID_QUERY_VEC).select(
        F.col("embedding").alias("qe")
    )
    cos = dot(F.col("qe"), F.col("embedding")) / (
        F.sqrt(dot(F.col("qe"), F.col("qe")))
        * F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )
    vec = (
        emb.filter(F.col("vec_id") != HYBRID_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .withColumn("cos", cos)
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("vec_id"))),
        )
        .filter(F.col("vec_rank") <= HYBRID_SHORTLIST)
        .select(F.col("vec_id").alias("doc_id"), "vec_rank")
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .withColumn(
            "rrf_micro",
            F.expr(
                f"CAST(COALESCE(CASE WHEN lex_rank <= {HYBRID_SHORTLIST}"
                f" THEN 1000000 DIV (60 + lex_rank) END, 0)"
                f" + COALESCE(CASE WHEN vec_rank <= {HYBRID_SHORTLIST}"
                f" THEN 1000000 DIV (60 + vec_rank) END, 0) AS BIGINT)"
            ),
        )
        .withColumn(
            "fused_rank",
            F.row_number().over(Window.orderBy(F.desc("rrf_micro"), F.asc("doc_id"))),
        )
        .filter(F.col("fused_rank") <= HYBRID_TOP)
    )
    return fused.select("doc_id", "lex_rank", "vec_rank", "rrf_micro", "fused_rank")


MMR_QUERIES = 4  # vec_id < 4 are the MMR query vectors
MMR_SHORTLIST = 20
MMR_TOP = 5  # greedy picks per query; lambda fixed at 0.5


def _mmr_oracle() -> str:
    """Mechanically unroll the 0.5-lambda greedy MMR loop into MMR_TOP
    plain CTE steps (argmax per step via row_number; max-sim-to-selected
    via a grouped join against the accumulated pick set) — the same
    composed-oracle device as the lang-ID confusion matrix: the spec is
    generated from the loop, so it cannot drift from the semantics."""
    head = f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), q AS (
        SELECT vec_id AS query_id, emb AS qe, nrm AS qn FROM e
        WHERE vec_id < {MMR_QUERIES}
    ), ranked AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               round(list_dot_product(q.qe, c.emb) / (q.qn * c.nrm), 4) AS rel,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(q.qe, c.emb) / (q.qn * c.nrm), 4)
                            DESC, c.vec_id ASC) AS rnk
        FROM q CROSS JOIN e c WHERE c.vec_id <> q.query_id
    ), sl AS (
        SELECT query_id, doc_id, rel FROM ranked WHERE rnk <= {MMR_SHORTLIST}
    ), ps AS (
        SELECT a.query_id, a.doc_id AS da, b.doc_id AS db,
               round(list_dot_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 4) AS sim
        FROM sl a JOIN sl b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
        JOIN e ea ON ea.vec_id = a.doc_id
        JOIN e eb ON eb.vec_id = b.doc_id
    ), p1 AS (
        SELECT query_id, doc_id, rel, 1 AS mmr_rank,
               0.5 * rel - 0.5 * CAST(0 AS DOUBLE) AS mmr_score
        FROM (SELECT query_id, doc_id, rel,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY rel DESC, doc_id ASC) AS r
              FROM sl) WHERE r = 1
    ), sel1 AS (SELECT query_id, doc_id FROM p1)"""
    steps = []
    for i in range(2, MMR_TOP + 1):
        prev = i - 1
        steps.append(f""", p{i} AS (
        SELECT query_id, doc_id, rel, {i} AS mmr_rank, mmr_score
        FROM (
            SELECT s.query_id, s.doc_id, s.rel,
                   0.5 * s.rel - 0.5 * m.maxsim AS mmr_score,
                   row_number() OVER (
                       PARTITION BY s.query_id
                       ORDER BY 0.5 * s.rel - 0.5 * m.maxsim DESC,
                                s.doc_id ASC) AS r
            FROM sl s
            JOIN (SELECT p.query_id, p.da, max(p.sim) AS maxsim
                  FROM ps p JOIN sel{prev} x
                    ON p.query_id = x.query_id AND p.db = x.doc_id
                  GROUP BY 1, 2) m
              ON m.query_id = s.query_id AND m.da = s.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM sel{prev} x
                              WHERE x.query_id = s.query_id
                                AND x.doc_id = s.doc_id)
        ) WHERE r = 1
    ), sel{i} AS (SELECT query_id, doc_id FROM sel{prev}
                  UNION ALL SELECT query_id, doc_id FROM p{i})""")
    union = " UNION ALL ".join(
        f"SELECT * FROM p{i}" for i in range(1, MMR_TOP + 1)
    )
    return head + "".join(steps) + f" {union}"


@query("retrieval_mmr_diversified", oracle=_mmr_oracle())
def retrieval_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): rerank a
    relevance shortlist so each pick balances query relevance against
    redundancy with what is already picked — the diversity-aware
    retrieval step RAG stacks run after ANN, and the one retrieval op
    whose semantics are inherently SEQUENTIAL (pick k depends on picks
    1..k-1), i.e. not expressible as a window or join alone.

    Spark-first split of the work:
    - Everything UNBOUNDED stays in Catalyst: the corpus-wide
      relevance scan (broadcast queries, corpus never moves — the knn
      device), the top-{MMR_SHORTLIST} shortlist, and the within-
      shortlist pairwise similarity matrix, all on the proven rounded
      dot/norm arithmetic.
    - Only the BOUNDED greedy loop ({MMR_TOP} picks from
      {MMR_SHORTLIST} candidates — a few hundred pair rows per query)
      crosses into Python: one applyInPandas over the query_id group,
      pure float64 IEEE arithmetic (0.5·rel − 0.5·max-sim of 4dp-
      rounded inputs — exact halving, so Spark, numpy, and the
      oracle's unrolled SQL produce bit-identical doubles; ties break
      on doc_id). Groups are independent → queries parallelize across
      executors; per-group state is O(shortlist²) regardless of
      corpus size, so the operator survives any corpus scale — the
      scale knob is shortlist width, not data volume.
    """
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    base = emb.select(
        "vec_id",
        F.col("embedding").alias("emb"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    q = base.filter(F.col("vec_id") < MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    rel_col = F.round(
        dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 4
    )
    ranked = (
        F.broadcast(q)
        .crossJoin(
            base.select(
                F.col("vec_id").alias("doc_id"),
                F.col("emb").alias("ce"),
                F.col("nrm").alias("cn"),
            )
        )
        .filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("rel", rel_col)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("rel"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("rnk") <= MMR_SHORTLIST)
        .select("query_id", "doc_id", "rel", "ce", "cn")
    )
    a = ranked.select("query_id", F.col("doc_id").alias("da"), "rel", "ce", "cn")
    b = ranked.select(
        F.col("query_id").alias("qb"),
        F.col("doc_id").alias("db"),
        F.col("ce").alias("ce_b"),
        F.col("cn").alias("cn_b"),
    )
    pairs = (
        a.join(b, (F.col("query_id") == F.col("qb")) & (F.col("da") != F.col("db")))
        .withColumn(
            "sim",
            F.round(
                dot(F.col("ce"), F.col("ce_b")) / (F.col("cn") * F.col("cn_b")), 4
            ),
        )
        .select("query_id", "da", "db", "sim", "rel")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.da)] = float(r.rel)
            sim[(int(r.da), int(r.db))] = float(r.sim)
        selected: list[int] = []
        out = []
        for rank in range(1, MMR_TOP + 1):
            best_d, best_score = None, None
            for d in sorted(rel):
                if d in selected:
                    continue
                maxsim = max((sim[(d, s)] for s in selected), default=0.0)
                score = 0.5 * rel[d] - 0.5 * maxsim
                if best_score is None or score > best_score:
                    best_d, best_score = d, score
            selected.append(best_d)
            out.append((qid, best_d, rel[best_d], rank, best_score))
        return pd.DataFrame(
            out, columns=["query_id", "doc_id", "rel", "mmr_rank", "mmr_score"]
        )

    return pairs.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id long, doc_id long, rel double, mmr_rank int, mmr_score double",
    )


MINE_ANCHORS = 8  # vec_id < 8 are the mined anchors
MINE_HARD_NEGS = 3


@query(
    "mining_contrastive_triplets",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), a AS (
        SELECT vec_id AS anchor_id, label AS alabel, emb AS ae, nrm AS an
        FROM e WHERE vec_id < {MINE_ANCHORS}
    ), scored AS (
        SELECT a.anchor_id, c.vec_id AS pair_id,
               CASE WHEN c.label = a.alabel THEN 'pos' ELSE 'neg' END AS pair_role,
               round(list_dot_product(a.ae, c.emb) / (a.an * c.nrm), 4) AS cosine
        FROM a CROSS JOIN e c WHERE c.vec_id <> a.anchor_id
    ), ranked AS (
        SELECT anchor_id, pair_id, pair_role, cosine,
               row_number() OVER (
                   PARTITION BY anchor_id, pair_role
                   ORDER BY CASE WHEN pair_role = 'pos' THEN cosine
                                 ELSE -cosine END ASC,
                            pair_id ASC) AS rnk
        FROM scored
    )
    SELECT anchor_id, pair_id, pair_role, cosine, rnk
    FROM ranked
    WHERE (pair_role = 'pos' AND rnk = 1)
       OR (pair_role = 'neg' AND rnk <= {MINE_HARD_NEGS})
    """,
)
def mining_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-example mining for contrastive/metric training — the
    training-PAIR factory beside the dedup/leakage gates: per anchor,
    the HARDEST positive (same label, lowest cosine — the in-class
    example the model most confuses) and the {MINE_HARD_NEGS} hardest
    negatives (different label, highest cosine — the impostors), i.e.
    exactly the triplets batch-hard TripletLoss / InfoNCE pipelines
    feed. One scored scan serves both roles: the role is a CASE on
    label agreement and the per-role hardness ordering is a single
    row_number window with a sign flip (pos ranks ascending cosine,
    neg descending), ties on pair_id.

    Scale: anchors broadcast, the corpus never moves (knn device);
    the window partitions by (anchor, role) — bounded state. At real
    scale the CROSS scan becomes the ANN shortlist (knn_cosine_lsh /
    ivf) feeding the same role-split + rank; rounded-4dp cosine keeps
    the rank boundary engine-stable.
    """
    emb = load(spark, sf_dir, "embeddings").filter(NONZERO()).select(
        "vec_id",
        "label",
        F.col("embedding").alias("emb"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a = emb.filter(F.col("vec_id") < MINE_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("emb").alias("ae"),
        F.col("nrm").alias("an"),
    )
    scored = (
        F.broadcast(a)
        .crossJoin(
            emb.select(
                F.col("vec_id").alias("pair_id"),
                F.col("label").alias("clabel"),
                F.col("emb").alias("ce"),
                F.col("nrm").alias("cn"),
            )
        )
        .filter(F.col("pair_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "pair_id",
            F.when(F.col("clabel") == F.col("alabel"), "pos")
            .otherwise("neg")
            .alias("pair_role"),
            F.round(
                dot(F.col("ae"), F.col("ce")) / (F.col("an") * F.col("cn")), 4
            ).alias("cosine"),
        )
    )
    hardness = F.when(F.col("pair_role") == "pos", F.col("cosine")).otherwise(
        -F.col("cosine")
    )
    ranked = scored.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("anchor_id", "pair_role").orderBy(
                hardness.asc(), F.asc("pair_id")
            )
        ),
    )
    return ranked.filter(
        ((F.col("pair_role") == "pos") & (F.col("rnk") == 1))
        | ((F.col("pair_role") == "neg") & (F.col("rnk") <= MINE_HARD_NEGS))
    )


@query(
    "recsys_item_item_cosine",
    oracle="""
    WITH lines AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ),
    item_n AS (
        SELECT p, count(*) AS n FROM lines GROUP BY 1
    ),
    pair_n AS (
        SELECT a.p AS pa, b.p AS pb, count(*) AS nab
        FROM lines a JOIN lines b ON a.ok = b.ok AND a.p < b.p
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    scored AS (
        SELECT pa, pb, nab,
               round(CAST(nab AS DOUBLE)
                     / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))),
                     6) AS cosine
        FROM pair_n
        JOIN item_n na ON na.p = pair_n.pa
        JOIN item_n nb ON nb.p = pair_n.pb
    ),
    sym AS (
        SELECT pa AS item, pb AS neighbor, nab, cosine FROM scored
        UNION ALL
        SELECT pb, pa, nab, cosine FROM scored
    ),
    ranked AS (
        SELECT item, neighbor, nab, cosine,
               row_number() OVER (PARTITION BY item
                                  ORDER BY cosine DESC, neighbor ASC) AS rn
        FROM sym
    )
    SELECT item, neighbor, CAST(nab AS BIGINT) AS n_cobaskets,
           cosine, rn AS rank
    FROM ranked WHERE rn <= 5
    """,
)
def recsys_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (Sarwar et al. / the Amazon
    recommender): items as binary basket vectors, neighbor score =
    cosine n_ab / sqrt(n_a·n_b) over co-occurrence counts, top-5
    neighbors per item — the "customers who bought X also bought"
    table, materialized batch-side exactly as production recsys do.

    Determinism: counts are integers; sqrt is correctly rounded and
    the score tree is fixed, so cosine is bit-identical cross-engine
    (rounded 6dp per the corr precedent) and the per-item ranking
    adds the neighbor id as total-order tie-break. Support floor
    (n_ab >= 2) prunes noise pairs BEFORE scoring.

    Plan: basket-bounded pair self-join on the order key (the
    market-basket shape), item counts broadcast onto the pair table,
    and the top-5 ranking gets WindowGroupLimit pushdown. A
    mega-basket guard (cap lines per order) is the documented scale
    valve, as in the pair miner.
    """
    lines = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # r8: lines feeds item counts + both pair legs, scored feeds both
    # symmetrization legs — checkpoint so each lineage runs once
    # ckpt-grain: slim-exception — 2-col distinct order x part keys shared by 4 consumers
    lines = lines.localCheckpoint(eager=False)
    item_n = lines.groupBy("p").agg(F.count(F.lit(1)).alias("n"))
    a = lines.select(F.col("ok").alias("ok_a"), F.col("p").alias("pa"))
    b = lines.select(F.col("ok").alias("ok_b"), F.col("p").alias("pb"))
    pair_n = (
        a.join(b, (F.col("ok_a") == F.col("ok_b")) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("nab"))
        .filter(F.col("nab") >= 2)
    )
    na = item_n.select(F.col("p").alias("pa"), F.col("n").alias("na"))
    nb = item_n.select(F.col("p").alias("pb"), F.col("n").alias("nb"))
    scored = (
        pair_n.join(F.broadcast(na), "pa")
        .join(F.broadcast(nb), "pb")
        .select(
            "pa",
            "pb",
            "nab",
            F.round(
                F.col("nab").cast("double")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                ),
                6,
            ).alias("cosine"),
        )
    )
    scored = scored.persist()  # item-pair grain: data-proportional (r11 rule)
    sym = scored.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "nab", "cosine"
    ).unionByName(
        scored.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "nab", "cosine"
        )
    )
    ranked = sym.select(
        "item",
        "neighbor",
        "nab",
        "cosine",
        F.row_number()
        .over(Window.partitionBy("item").orderBy(F.desc("cosine"), F.asc("neighbor")))
        .alias("rn"),
    )
    return ranked.filter(F.col("rn") <= 5).select(
        "item",
        "neighbor",
        F.col("nab").cast("bigint").alias("n_cobaskets"),
        "cosine",
        F.col("rn").alias("rank"),
    )


# 1/log2(i+1) for ranks 1..5 and their cumulative (ideal-DCG) sums —
# shared literals so both engines evaluate the identical double tree.
NDCG_C = (
    "1.0",
    "0.6309297535714575",
    "0.5",
    "0.43067655807339306",
    "0.38685280723454163",
)
NDCG_IDEAL = (
    "0.0",  # R = 0
    "1.0",
    "1.6309297535714575",
    "2.1309297535714578",
    "2.5616063116448506",
    "2.9484591188793923",
)


def _ndcg_oracle() -> str:
    """Composed from the registered brute-force KNN oracle (zero
    drift): binary relevance = neighbor label equals the query's own
    label; DCG unrolls into one literal-coefficient tree."""
    from leadsight_sales_agent_spark.registry import ORACLES

    knn = ORACLES["knn_cosine_bruteforce"]
    dcg = " + ".join(
        f"CAST({NDCG_C[i]} AS DOUBLE) * r{i + 1}" for i in range(5)
    )
    ideal = " ".join(
        f"WHEN {r} THEN CAST({NDCG_IDEAL[r]} AS DOUBLE)" for r in range(6)
    )
    rels = ", ".join(
        f"coalesce(sum(CASE WHEN rank = {i + 1} AND neighbor_label = qlabel"
        f" THEN 1 END), 0) AS r{i + 1}"
        for i in range(5)
    )
    return f"""
    WITH knn AS ({knn}),
    labeled AS (
        SELECT k.*, e.label AS qlabel
        FROM knn k JOIN embeddings e ON e.vec_id = k.query_id
    ),
    pivoted AS (
        SELECT query_id, any_value(qlabel) AS qlabel, {rels}
        FROM labeled GROUP BY query_id
    )
    SELECT query_id, CAST(qlabel AS BIGINT) AS query_label,
           CAST(r1 + r2 + r3 + r4 + r5 AS BIGINT) AS n_relevant,
           round(CASE WHEN r1 + r2 + r3 + r4 + r5 = 0 THEN 0.0
                 ELSE ({dcg}) / (CASE r1 + r2 + r3 + r4 + r5 {ideal} END)
                 END, 6) AS ndcg_at_5
    FROM pivoted
    """


def _knn_relevant_by_rank(
    spark: SparkSession, sf_dir: str, *first: Column
) -> DataFrame:
    """Per query of the registered exact cosine KNN: the ``first``
    aggregates, then r1..r5, 1 where the neighbor at that rank shares
    the query vector's label (qlabel) and 0 otherwise."""
    from leadsight_sales_agent_spark.registry import QUERIES

    knn = QUERIES["knn_cosine_bruteforce"](spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qlabel")
    )
    labeled = knn.join(F.broadcast(emb), "query_id")
    rel = F.when(F.col("neighbor_label") == F.col("qlabel"), 1).otherwise(0)
    aggs = [
        F.coalesce(F.sum(F.when(F.col("rank") == i + 1, rel)), F.lit(0)).alias(
            f"r{i + 1}"
        )
        for i in range(5)
    ]
    return labeled.groupBy("query_id").agg(*first, *aggs)


@query("eval_ndcg_retrieval", oracle=_ndcg_oracle())
def eval_ndcg_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the exact cosine retriever against label relevance
    (a neighbor is relevant iff it shares the query vector's class
    label) — the position-discounted ranking quality metric that
    completes the retrieval-eval set: ann_recall_report grades WHAT
    was found, NDCG grades WHERE it was ranked. Composed from the
    REGISTERED knn query/oracle pair, so the eval can never drift
    from the retriever it grades.

    Exactness: binary relevance pivots into five conditional counts;
    DCG is the literal tree Σ c_i·rel_i with c_i = 1/log2(i+1)
    PRECOMPUTED as shared double literals (log2 never evaluates in
    either engine), and the ideal DCG is a literal CASE over the
    relevant-count 0..5 — so the whole metric is exact double
    arithmetic on identical constants, no libm anywhere.
    """
    pivoted = _knn_relevant_by_rank(
        spark, sf_dir, F.any_value("qlabel").alias("qlabel")
    )
    n_rel = sum(F.col(f"r{i + 1}") for i in range(5))
    dcg = sum(
        F.lit(float(NDCG_C[i])) * F.col(f"r{i + 1}") for i in range(5)
    )
    ideal = F.when(n_rel == 0, F.lit(0.0))
    for r in range(1, 6):
        ideal = ideal.when(n_rel == r, F.lit(float(NDCG_IDEAL[r])))
    return pivoted.select(
        "query_id",
        F.col("qlabel").cast("bigint").alias("query_label"),
        n_rel.cast("bigint").alias("n_relevant"),
        F.round(
            F.when(n_rel == 0, F.lit(0.0)).otherwise(dcg / ideal), 6
        ).alias("ndcg_at_5"),
    )


def _map_oracle() -> str:
    """Average precision composed from the registered KNN oracle. With
    k=5 binary relevances the AP is the exact rational
    (Σ_i rel_i · (Σ_{j<=i} rel_j)/i) / R — unrolled, scaled to
    half-up basis points; engines share every integer."""
    from leadsight_sales_agent_spark.registry import ORACLES

    knn = ORACLES["knn_cosine_bruteforce"]
    rels = ", ".join(
        f"coalesce(sum(CASE WHEN rank = {i + 1} AND neighbor_label = qlabel"
        f" THEN 1 END), 0) AS r{i + 1}"
        for i in range(5)
    )
    # AP numerator over common denominator 60 = lcm(1..5):
    # prec@i = cum_i/i → contribution rel_i*cum_i*(60/i)
    contrib = " + ".join(
        f"r{i + 1} * (r1{''.join(f' + r{j + 1}' for j in range(1, i + 1))}) * {60 // (i + 1)}"
        for i in range(5)
    )
    return f"""
    WITH knn AS ({knn}),
    labeled AS (
        SELECT k.*, e.label AS qlabel
        FROM knn k JOIN embeddings e ON e.vec_id = k.query_id
    ),
    pivoted AS (
        SELECT query_id, {rels}
        FROM labeled GROUP BY query_id
    )
    SELECT query_id,
           CAST(r1 + r2 + r3 + r4 + r5 AS BIGINT) AS n_relevant,
           CAST(CASE WHEN r1 + r2 + r3 + r4 + r5 = 0 THEN 0
                ELSE (2 * 10000 * ({contrib})
                      + 60 * (r1 + r2 + r3 + r4 + r5))
                     // (2 * 60 * (r1 + r2 + r3 + r4 + r5))
                END AS BIGINT) AS ap_bp
    FROM pivoted
    """


@query("eval_map_retrieval", oracle=_map_oracle())
def eval_map_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision @5 per query for the exact cosine retriever —
    the order-sensitive cousin of recall that rewards putting
    relevant neighbors EARLY (the MAP family's per-query row; the
    mean over queries is one trivial avg away). Fully integer: with
    binary relevance at k=5, AP = Σ rel_i·(cum_i/i) / R — putting
    the precisions over the common denominator 60 = lcm(1..5) turns
    the whole metric into exact integer arithmetic, reported as
    half-up basis points. Composed from the registered KNN spec like
    NDCG (zero drift).
    """
    pivoted = _knn_relevant_by_rank(spark, sf_dir)
    n_rel = sum(F.col(f"r{i + 1}") for i in range(5))
    contrib = None
    for i in range(5):
        cum = sum(F.col(f"r{j + 1}") for j in range(i + 1))
        term = F.col(f"r{i + 1}") * cum * F.lit(60 // (i + 1))
        contrib = term if contrib is None else contrib + term
    return pivoted.select(
        "query_id",
        n_rel.cast("bigint").alias("n_relevant"),
        F.when(n_rel == 0, F.lit(0))
        .otherwise(
            F.floor(
                (F.lit(2) * 10000 * contrib + F.lit(60) * n_rel)
                / (F.lit(2) * 60 * n_rel)
            )
        )
        .cast("bigint")
        .alias("ap_bp"),
    )


@query(
    "eval_label_silhouette",
    oracle="""
    WITH e AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    pairs AS (
        SELECT a.vec_id AS ia, a.label AS la, b.label AS lb,
               CAST(round((1 - list_dot_product(a.v, b.v) / (a.nrm * b.nrm))
                          * 10000, 0) AS BIGINT) AS d_bp
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
    ),
    per_pt AS (
        SELECT ia, la, lb,
               CAST(sum(d_bp) AS BIGINT) AS s, count(*) AS n
        FROM pairs GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT ia, la,
               max(CASE WHEN la = lb
                   THEN (2 * s + n) // (2 * n) END) AS a_bp,
               min(CASE WHEN la <> lb
                   THEN (2 * s + n) // (2 * n) END) AS b_bp
        FROM per_pt GROUP BY 1, 2
    )
    SELECT la AS label,
           count(*) AS n_points,
           CAST((2 * sum(a_bp) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_intra_bp,
           CAST((2 * sum(b_bp) + count(*)) // (2 * count(*)) AS BIGINT)
               AS mean_nearest_other_bp,
           CAST(count(*) FILTER (WHERE b_bp > a_bp) AS BIGINT)
               AS n_well_separated
    FROM ab GROUP BY 1
    """,
)
def eval_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-style cluster-quality report for the LABEL
    partitioning of the embedding space: per point, a = mean cosine
    distance to its own label, b = the smallest mean distance to any
    other label; per label we report mean a, mean b, and how many
    points are well-separated (b > a) — the supervised twin of
    k-means silhouette that answers "are these classes actually
    separable in embedding space" before anyone trains on them.

    Exactness: each pair's cosine distance is one fixed IEEE tree
    quantized to integer bp (the knn rounding device); every mean
    after that is half-up integer division — so a metric famous for
    float drift hash-checks bit-exactly. The all-pairs matrix is
    corpus-bounded (N²; at 100 TB the documented form runs on a
    per-label stratified sample or the IVF cell structure — the
    candidate-generation paths this repo already grades).
    """
    e = load(spark, sf_dir, "embeddings").filter(NONZERO()).select(
        "vec_id",
        "label",
        F.col("embedding").alias("v"),
        l2_norm(F.col("embedding")).alias("nrm"),
    )
    a = e.select(
        F.col("vec_id").alias("ia"),
        F.col("label").alias("la"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("ib"),
        F.col("label").alias("lb"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia",
        "la",
        "lb",
        F.round(
            (F.lit(1) - dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")))
            * 10000,
            0,
        )
        .cast("bigint")
        .alias("d_bp"),
    )
    per_pt = pairs.groupBy("ia", "la", "lb").agg(
        F.sum("d_bp").cast("bigint").alias("s"), F.count(F.lit(1)).alias("n")
    )
    ab = per_pt.groupBy("ia", "la").agg(
        F.max(
            F.when(F.col("la") == F.col("lb"), F.expr("(2 * s + n) DIV (2 * n)"))
        ).alias("a_bp"),
        F.min(
            F.when(F.col("la") != F.col("lb"), F.expr("(2 * s + n) DIV (2 * n)"))
        ).alias("b_bp"),
    )
    return ab.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr(
            "CAST((2 * sum(a_bp) + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("mean_intra_bp"),
        F.expr(
            "CAST((2 * sum(b_bp) + count(*)) DIV (2 * count(*)) AS BIGINT)"
        ).alias("mean_nearest_other_bp"),
        F.count_if(F.col("b_bp") > F.col("a_bp"))
        .cast("bigint")
        .alias("n_well_separated"),
    )


@query(
    "embedding_robust_scale",
    oracle="""
    WITH dims AS (
        SELECT u.i - 1 AS dim,
               CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000, 0)
                    AS BIGINT) AS micro
        FROM embeddings,
             unnest(generate_series(1, len(embedding))) AS u(i)
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    ranked AS (
        SELECT dim, micro,
               row_number() OVER (PARTITION BY dim ORDER BY micro) AS rn,
               count(*) OVER (PARTITION BY dim) AS n
        FROM dims
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(max(CASE WHEN rn = (n + 1) // 2 THEN micro END) AS BIGINT)
               AS median_micro,
           CAST(max(CASE WHEN rn = (3 * n + 1) // 4 THEN micro END)
                - max(CASE WHEN rn = (n + 3) // 4 THEN micro END) AS BIGINT)
               AS iqr_micro,
           CAST(min(micro) AS BIGINT) AS min_micro,
           CAST(max(micro) AS BIGINT) AS max_micro
    FROM ranked GROUP BY 1
    """,
)
def embedding_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) per-dimension scaling statistics for the
    embedding matrix — the outlier-immune alternative to
    embedding_feature_scale's min-max affine: one saturated value
    per dimension wrecks a min-max scaler but barely moves
    median/IQR. Values quantize to integer micro-units (the float→
    exact hop), quartiles are rank-picked ELEMENTS per dimension —
    the calibration table a serving stack applies as
    (x − median)/IQR.

    Plan: posexplode to the (dim, value) grain — 64 ranks of 500
    values each partition independently (at scale: dims are the
    natural partition key, each holding n values; rank via per-dim
    sort, embarrassingly parallel across dims).
    """
    dims = load(spark, sf_dir, "embeddings").filter(FINITE_VEC()).select(
        F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000, 0).cast("bigint").alias(
            "micro"
        ),
    )
    wd = Window.partitionBy("dim").orderBy("micro")
    wc = Window.partitionBy("dim")
    ranked = dims.select(
        "dim",
        "micro",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.groupBy("dim").agg(
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("micro"))
        )
        .cast("bigint")
        .alias("median_micro"),
        (
            F.max(
                F.when(F.col("rn") == F.expr("(3 * n + 1) DIV 4"), F.col("micro"))
            )
            - F.max(
                F.when(F.col("rn") == F.expr("(n + 3) DIV 4"), F.col("micro"))
            )
        )
        .cast("bigint")
        .alias("iqr_micro"),
        F.min("micro").cast("bigint").alias("min_micro"),
        F.max("micro").cast("bigint").alias("max_micro"),
    )


# -- PCA top component (distributed power iteration) -------------------------

PCA_ITERS = 4  # fixed iteration count — the PageRank-style bounded contract


def _pca_oracle() -> str:
    """Unrolled power iteration (same fixed-iteration device as the
    k-core oracle): covariance from floor-quantized products summed as
    DECIMAL(25,0) (scaled ints stay < 2^53 so decimal→double is the
    single correctly-rounded conversion in BOTH engines — wide-decimal
    casts double-round differently at sf0.1 sums), then PCA_ITERS
    rounds of u = C·v with per-term floor(x·1e12 + 0.5) quantization
    (`round(double)` is NOT cross-engine-safe; floor of an identical
    IEEE product is), l-infinity normalization, floor re-quantization
    at every iteration boundary."""
    cov = """
    fin AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM fin
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fin),
    sums AS (
        SELECT i, ((CAST(CAST((CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) - (CAST(CAST(sum(CAST(x AS DECIMAL(18,9))) * 1000000000 AS HUGEINT) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE)) / CAST(1000000000 AS DOUBLE)) AS sx
        FROM flat GROUP BY 1
    ),
    cross_sums AS (
        SELECT a.i AS i, b.i AS j,
               (CAST(CAST((CAST(sum(CAST(floor(a.x * b.x * 1e10 + 0.5) AS DECIMAL(25,0))) AS HUGEINT) // 1125899906842624) AS BIGINT) AS DOUBLE) * CAST(1125899906842624 AS DOUBLE) + CAST(CAST(CAST(sum(CAST(floor(a.x * b.x * 1e10 + 0.5) AS DECIMAL(25,0))) AS HUGEINT) - (CAST(sum(CAST(floor(a.x * b.x * 1e10 + 0.5) AS DECIMAL(25,0))) AS HUGEINT) // 1125899906842624) * 1125899906842624 AS BIGINT) AS DOUBLE))
                   / 1e10 AS sxy
        FROM flat a JOIN flat b ON a.vec_id = b.vec_id
        GROUP BY 1, 2
    ),
    c AS (
        SELECT cs.i, cs.j,
               floor((cs.sxy - sa.sx * sb.sx / nn.n) / (nn.n - 1)
                     * 1e12 + 0.5) / 1e12 AS cij
        FROM cross_sums cs
        JOIN sums sa ON sa.i = cs.i
        JOIN sums sb ON sb.i = cs.j
        CROSS JOIN n nn
    ),
    v0 AS (SELECT DISTINCT i, CAST(1 AS DOUBLE) AS v FROM flat)"""
    its = []
    for k in range(1, PCA_ITERS + 1):
        its.append(f"""
    u{k} AS (
        SELECT c.i,
               CAST(CAST(sum(CAST(floor(c.cij * v.v * 1e12 + 0.5)
                                  AS DECIMAL(25,0))) AS BIGINT) AS DOUBLE)
                   / 1e12 AS u
        FROM c JOIN v{k - 1} v ON v.i = c.j
        GROUP BY 1
    ),
    m{k} AS (SELECT max(abs(u)) AS m FROM u{k}),
    v{k} AS (
        SELECT u.i, floor(u.u / m.m * 1e12 + 0.5)
                        / 1e12 AS v
        FROM u{k} u CROSS JOIN m{k} m
    )""")
    return f"""
    WITH {cov},{",".join(its)}
    SELECT CAST(v.i AS INTEGER) AS dim,
           v.v AS loading,
           floor(m.m * 1e8 + 0.5) / 1e8 AS eigenvalue_linf
    FROM v{PCA_ITERS} v CROSS JOIN m{PCA_ITERS} m
    """


@query("embedding_pca_power_iteration", oracle=_pca_oracle())
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by DISTRIBUTED
    power iteration — the whitening/decorrelation primitive real
    embedding pipelines run before quantization (PQ codebooks assume
    balanced variance; `embedding_feature_scale` fixes scale per dim,
    PCA fixes correlation ACROSS dims). Eigensolvers are the textbook
    "iterate to convergence" case; the graded contract is the same
    one that made PageRank hash-checkable: a FIXED {PCA_ITERS}
    iterations from the all-ones start, every dot product summed
    order-independently (per-term floor(x·1e12 + 0.5) quantization →
    DECIMAL(25,0) sum — the engine-identical quantizer; round(double)
    diverges between Spark's shortest-string and DuckDB's binary
    rounding, which surfaced at sf0.1 volume), l-infinity
    normalization (the scale factor converges to the top eigenvalue),
    floor re-quantization at every iteration boundary so float state
    is bit-equal across engines at each step.

    Scale shape: covariance is ONE pass — the (i,j) outer-product
    accumulation is a self-join on vec_id exploded to 64x64 pairs per
    vector with map-side decimal partials collapsing to a 4096-row
    matrix; each iteration is a broadcast of the 64-row vector onto
    the tiny matrix (at 1000 dims the matrix is 1M rows — still one
    executor's worth; beyond that you shard j and tree-aggregate).
    The corpus is scanned ONCE regardless of iteration count.
    """
    emb = load(spark, sf_dir, "embeddings").filter(FINITE_VEC())
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("vf").cast("double").alias("x")
    )
    n = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    xd = F.col("x").cast("decimal(18,9)")
    # r13 (plan-lint R9): the per-dim sum and the e10-grain product
    # sums grow with corpus size — d53/d53s split conversions.
    sums = flat.groupBy("i").agg(ddbl(F.sum(xd), 9).alias("sx"))
    a = flat.select("vec_id", F.col("i").alias("ia"), F.col("x").alias("xa"))
    b = flat.select("vec_id", F.col("i").alias("ib"), F.col("x").alias("xb"))
    cross_sums = (
        a.join(b, "vec_id")
        .groupBy(F.col("ia").alias("i"), F.col("ib").alias("j"))
        .agg(
            (
                F.expr(
                    d53(
                        "sum(CAST(floor(xa * xb * 1e10 + 0.5)"
                        " AS DECIMAL(25,0)))"
                    )
                )
                / F.lit(1e10)
            ).alias("sxy")
        )
    )
    sa = sums.select(F.col("i").alias("i_"), F.col("sx").alias("sxa"))
    sb = sums.select(F.col("i").alias("j_"), F.col("sx").alias("sxb"))
    c = (
        cross_sums.join(F.broadcast(sa), F.col("i") == F.col("i_"))
        .join(F.broadcast(sb), F.col("j") == F.col("j_"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.expr(
                "floor((sxy - sxa * sxb / n) / nullif(n - 1, 0)"
                " * 1e12 + 0.5) / 1e12"
            ).alias("cij"),
        )
        # ckpt-grain: bounded — dim x dim covariance cells
        .localCheckpoint(eager=False)
    )
    v = flat.select("i").distinct().select("i", F.lit(1.0).alias("v"))
    m = None
    for _ in range(PCA_ITERS):
        u = (
            c.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(
                (
                    # r13 (plan-lint R9): a 64-term e12-grain dot is
                    # math-bounded under 2^53 — int64-narrow.
                    F.sum(
                        F.expr(
                            "CAST(floor(cij * v * 1e12 + 0.5)"
                            " AS DECIMAL(25,0))"
                        )
                    ).cast("bigint").cast("double")
                    / F.lit(1e12)
                ).alias("u")
            )
        )
        m = u.agg(F.max(F.abs(F.col("u"))).alias("m"))
        # localCheckpoint per round truncates the otherwise-compounding
        # lineage, exactly as in graph_pagerank_trade's loop
        v = (
            u.crossJoin(F.broadcast(m))
            .select(
                "i",
                F.expr(
                    "floor(u / m * 1e12 + 0.5) / 1e12"
                ).alias("v"),
            )
            # ckpt-grain: bounded — dim-grain vector (power-iteration state)
            .localCheckpoint(eager=False)
        )
    return v.crossJoin(F.broadcast(m)).select(
        F.col("i").cast("int").alias("dim"),
        F.col("v").alias("loading"),
        F.expr("floor(m * 1e8 + 0.5) / 1e8").alias(
            "eigenvalue_linf"
        ),
    )


# -- Johnson-Lindenstrauss random projection ---------------------------------

JL_OUT_DIM = 16  # target dimensionality (64 -> 16)


@query(
    "embedding_random_projection_jl",
    oracle=f"""
    WITH flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    signs AS (
        SELECT k.k, f.i,
               CASE WHEN substring(md5('jl:' || CAST(k.k AS VARCHAR) || ':'
                                        || CAST(f.i AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE -1 END AS s
        FROM (SELECT DISTINCT i FROM flat) f
        CROSS JOIN (SELECT unnest(generate_series(1, {JL_OUT_DIM})) AS k) k
    ),
    proj AS (
        SELECT f.vec_id, s.k,
               CAST(CAST(sum(s.s * CAST(f.x AS DECIMAL(18,9)))
                         AS DECIMAL(12,9)) AS DOUBLE)
                   / {JL_OUT_DIM} * 4 AS c
        FROM flat f JOIN signs s ON s.i = f.i
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT vec_id,
               CAST(CAST(sum(CAST(floor(x * x * 1e10 + 0.5)
                                  AS DECIMAL(25,0))) AS BIGINT) AS DOUBLE)
                   AS n_in10
        FROM flat GROUP BY 1
    ),
    pnorms AS (
        SELECT vec_id,
               CAST(CAST(sum(CAST(floor(c * c * 1e10 + 0.5)
                                  AS DECIMAL(25,0))) AS BIGINT) AS DOUBLE)
                   AS n_out10
        FROM proj GROUP BY 1
    )
    SELECT p.vec_id, CAST(p.k AS INTEGER) AS k,
           floor(p.c * 1e6 + 0.5) / 1e6 AS coord,
           CAST(floor(10000 * pn.n_out10 / nm.n_in10 + 0.5) AS BIGINT)
               AS norm_ratio_bp
    FROM proj p
    JOIN norms nm ON nm.vec_id = p.vec_id
    JOIN pnorms pn ON pn.vec_id = p.vec_id
    """,
)
def embedding_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → {JL_OUT_DIM} dims
    with a DETERMINISTIC sign matrix (Achlioptas ±1 variant): entry
    signs come from a salted hash of (output dim, input dim), so the
    projection matrix is a pure function of the spec — no RNG, no
    stored matrix, any executor regenerates any entry on demand (the
    property that makes JL viable at 100 TB: the "matrix" ships as a
    hash seed, not data). Coordinates scale by 1/sqrt({JL_OUT_DIM}) =
    1/4 exactly (the target dim is chosen to make the JL scale factor
    dyadic — no sqrt in the data path); the per-vector norm ratio
    ||Px||²/||x||² (basis points) is emitted as the distortion audit
    JL guarantees to concentrate near 1.

    Exactness: dot products accumulate sign·x in DECIMAL(18,9)
    (order-independent); norms quantize squares by the engine-identical
    ``floor(x·10^k + 0.5)`` device before decimal-summing, and every
    reported value is floor-quantized the same way — `round(double, s)`
    is NOT cross-engine-safe (Spark rounds the shortest decimal string,
    DuckDB the binary value; the divergence surfaced at sf0.1 volume),
    while floor of an identical IEEE product is bit-equal everywhere.
    The only divisions are identical double expressions on <2^53 ints.

    Scale: one explode + one (dim-grain tiny) broadcast sign join +
    one hash-agg to (vec, k) grain — the corpus is scanned once and
    the shuffle carries {JL_OUT_DIM} partials per vector.
    """
    from leadsight_sales_agent_spark.operators.sampling import hash_key

    emb = load(spark, sf_dir, "embeddings").filter(NONZERO())
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "vf")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("vf").cast("double").alias("x")
    )
    ks = spark.range(1, JL_OUT_DIM + 1).select(F.col("id").cast("bigint").alias("k"))
    dims = flat.select("i").distinct()
    signs = dims.crossJoin(F.broadcast(ks)).select(
        "k",
        "i",
        F.when(
            hash_key(
                "jl:", F.concat(F.col("k").cast("string"), F.lit(":"),
                                F.col("i").cast("string"))
            ).substr(1, 1)
            < "8",
            1,
        )
        .otherwise(-1)
        .alias("s"),
    )
    proj = (
        flat.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "k")
        .agg(
            (
                # r13 (plan-lint R9): a 64-term signed dot of |x|<=1 is
                # math-bounded — narrow-decimal exact conversion.
                F.sum(F.col("s") * F.col("x").cast("decimal(18,9)"))
                .cast("decimal(12,9)")
                .cast("double")
                / JL_OUT_DIM
                * 4
            ).alias("c")
        )
    )
    norms = flat.groupBy("vec_id").agg(
        F.sum(
            F.expr("CAST(floor(x * x * 1e10 + 0.5) AS DECIMAL(25,0))")
        )
        .cast("bigint")
        .cast("double")
        .alias("n_in10")
    )
    pnorms = proj.groupBy("vec_id").agg(
        F.sum(
            F.expr("CAST(floor(c * c * 1e10 + 0.5) AS DECIMAL(25,0))")
        )
        .cast("bigint")
        .cast("double")
        .alias("n_out10")
    )
    return (
        proj.join(F.broadcast(norms), "vec_id")
        .join(F.broadcast(pnorms), "vec_id")
        .select(
            "vec_id",
            F.col("k").cast("int").alias("k"),
            F.expr("floor(c * 1e6 + 0.5) / 1e6").alias("coord"),
            F.expr("CAST(floor(10000 * n_out10 / n_in10 + 0.5) AS BIGINT)").alias(
                "norm_ratio_bp"
            ),
        )
    )


KCENTER_K = 5  # coreset size; greedy rounds unrolled on both sides

_KC_Q = (
    "transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
)
_KC_Q_DUCK = (
    "list_transform(embedding, x ->"
    " CAST(floor(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
)


def _kc_dist_duck(a: str, b: str) -> str:
    """Exact squared L2 between micro-quantized BIGINT lists via three
    dot products in DOUBLE: every intermediate stays under 2^53 (64
    dims x (2e6)^2 per term), so the double arithmetic is exact and
    the BIGINT cast is lossless — both engines land on the identical
    integer."""
    d = "CAST({x} AS DOUBLE[])"
    aa = f"list_dot_product({d.format(x=a)}, {d.format(x=a)})"
    ab = f"list_dot_product({d.format(x=a)}, {d.format(x=b)})"
    bb = f"list_dot_product({d.format(x=b)}, {d.format(x=b)})"
    return f"CAST({aa} - 2 * {ab} + {bb} AS BIGINT)"


def _kc_oracle() -> str:
    parts = [
        f"""
    WITH base AS MATERIALIZED (
        SELECT vec_id, {_KC_Q_DUCK} AS q FROM embeddings
        WHERE len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    c1 AS (SELECT vec_id, q FROM base ORDER BY vec_id LIMIT 1),
    d1 AS MATERIALIZED (
        SELECT b.vec_id, b.q, {_kc_dist_duck('b.q', 'c.q')} AS d
        FROM base b CROSS JOIN c1 c
    ),
    r1 AS (
        SELECT 1 AS round, c.vec_id AS center_id,
               (SELECT CAST(max(d) AS BIGINT) FROM d1) AS radius_sq
        FROM c1 c
    )"""
    ]
    for r in range(2, KCENTER_K + 1):
        parts.append(
            f""",
    c{r} AS (SELECT vec_id, q FROM d{r - 1}
             ORDER BY d DESC, vec_id LIMIT 1),
    d{r} AS MATERIALIZED (
        SELECT p.vec_id, p.q,
               least(p.d, {_kc_dist_duck('p.q', 'c.q')}) AS d
        FROM d{r - 1} p CROSS JOIN c{r} c
    ),
    r{r} AS (
        SELECT {r} AS round, c.vec_id AS center_id,
               (SELECT CAST(max(d) AS BIGINT) FROM d{r}) AS radius_sq
        FROM c{r} c
    )"""
        )
    union = " UNION ALL ".join(f"SELECT * FROM r{r}" for r in range(1, KCENTER_K + 1))
    return "".join(parts) + f"\n    {union}"


@query("sample_coreset_kcenter_greedy", oracle=_kc_oracle())
def sample_coreset_kcenter_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus
    (Gonzalez 1985's 2-approximation; Sener & Savarese ICLR'18 as
    active-learning/data-selection for deep nets): seed with the
    lowest vec_id, then repeatedly take the point FARTHEST from the
    selected set and fold the min-distance state. Output is the
    selection trace — (round, center chosen, covering radius after
    that round) — whose monotonically shrinking radius IS the k-center
    objective a coreset bounds.

    Exactness: embeddings quantize once to micro-unit BIGINT
    components (floor of identical widened doubles), squared L2 is
    exact integer arithmetic — on the oracle side via three
    list_dot_products whose double intermediates stay under 2^53, so
    both engines compute the identical integer and every argmax
    tie-break (min vec_id) is deterministic. The driver loop is the
    bounded-rounds contract (kmeans/HITS/greedy-cover precedent) with
    a localCheckpoint per round to keep the plan linear.

    100 TB: each round is ONE linear scan folding least(d, dist to the
    new broadcast center) — k rounds of map-side work, no pairwise
    join anywhere (the reason k-center greedy is THE scalable coreset
    pick); the argmax is TakeOrderedAndProject(1). The oracle
    materializes each round's state for the same linearity.
    """
    base = (
        load(spark, sf_dir, "embeddings")
        .filter(FINITE_VEC())
        .select("vec_id", F.expr(_KC_Q).alias("q"))
    )
    dist = (
        "aggregate(zip_with(q, cq, (x, y) -> (x - y) * (x - y)),"
        " 0L, (s, t) -> s + t)"
    )
    c1 = (
        base.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
    )
    state = (
        base.crossJoin(F.broadcast(c1))
        .select("vec_id", "q", F.expr(dist).alias("d"), "cid")
        # ckpt-grain: iterative-loop — k-center state (vec-grain d/cid), re-checkpointed per pick
        .localCheckpoint(eager=False)
    )
    rounds = [
        state.groupBy("cid")
        .agg(F.max("d").cast("bigint").alias("radius_sq"))
        .select(
            F.lit(1).alias("round"),
            F.col("cid").cast("bigint").alias("center_id"),
            "radius_sq",
        )
    ]
    cur = state.select("vec_id", "q", "d")
    for r in range(2, KCENTER_K + 1):
        c = (
            cur.orderBy(F.desc("d"), "vec_id")
            .limit(1)
            .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
        )
        cur = (
            cur.crossJoin(F.broadcast(c))
            .select(
                "vec_id",
                "q",
                F.least(F.col("d"), F.expr(dist)).alias("d"),
                "cid",
            )
            # ckpt-grain: iterative-loop — k-center state update per round
            .localCheckpoint(eager=False)
        )
        rounds.append(
            cur.groupBy("cid")
            .agg(F.max("d").cast("bigint").alias("radius_sq"))
            .select(
                F.lit(r).alias("round"),
                F.col("cid").cast("bigint").alias("center_id"),
                "radius_sq",
            )
        )
        cur = cur.select("vec_id", "q", "d")
    out = rounds[0]
    for fr in rounds[1:]:
        out = out.unionAll(fr)
    return out


_RS_LN_E12 = "CAST(floor(ln(CAST({x} AS DOUBLE)) * 1e12 + 0.5) AS BIGINT)"


def _recsys_audit_oracle() -> str:
    from leadsight_sales_agent_spark.registry import ORACLES

    recs = ORACLES["recsys_item_item_cosine"]
    ln_b = _RS_LN_E12.format(x="(SELECT nb FROM baskets)")
    ln_nj = _RS_LN_E12.format(x="i.n")
    return f"""
    WITH recs AS ({recs}
    ), lines AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    ), item_n AS (
        SELECT p, CAST(count(*) AS BIGINT) AS n FROM lines GROUP BY 1
    ), baskets AS (
        SELECT CAST(count(DISTINCT ok) AS BIGINT) AS nb FROM lines
    ), catalog AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part
    ), slots AS (
        SELECT r.item, r.neighbor, {ln_b} - {ln_nj} AS novelty_e12
        FROM recs r JOIN item_n i ON i.p = r.neighbor
    ), freq AS (
        SELECT neighbor, CAST(count(*) AS BIGINT) AS cnt FROM slots GROUP BY 1
    ), ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, neighbor) AS rn
        FROM freq
    ), agg AS (
        SELECT (SELECT CAST(count(DISTINCT item) AS BIGINT) FROM slots)
                   AS n_items_with_recs,
               (SELECT CAST(count(*) AS BIGINT) FROM slots) AS n_slots,
               (SELECT n_parts FROM catalog) AS catalog_size,
               (SELECT CAST(count(*) AS BIGINT) FROM freq)
                   AS covered_neighbors,
               (SELECT CAST(sum(novelty_e12) AS HUGEINT) FROM slots)
                   AS nov_sum,
               (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT)
                FROM ranked WHERE rn <= 10) AS top10_slots
    )
    SELECT n_items_with_recs, n_slots, catalog_size, covered_neighbors,
           CAST((2 * covered_neighbors * 10000 + catalog_size)
                // (2 * catalog_size) AS BIGINT) AS coverage_bp,
           CAST((2 * nov_sum + n_slots * 1000000)
                // (2 * n_slots * 1000000) AS BIGINT) AS mean_novelty_e6,
           CAST((2 * top10_slots * 10000 + n_slots)
                // (2 * n_slots) AS BIGINT) AS top10_share_bp
    FROM agg
    """


@query("recsys_coverage_novelty_audit", oracle=_recsys_audit_oracle())
def recsys_coverage_novelty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender audit (Castells et al.'s
    coverage/novelty/concentration triad) over the registered
    item-item top-5 table: CATALOG COVERAGE (what share of the part
    catalog is ever recommended — the long-tail health check), mean
    NOVELTY as the self-information -ln(popularity) of each
    recommended neighbor in nats (popularity = basket support /
    total baskets), and the TOP-10 CONCENTRATION share of
    recommendation slots (the popularity-bias number). Accuracy-style
    metrics live elsewhere (MAP/NDCG); these are the catalog-health
    counterweights every production recsys tracks alongside them.

    Composition: the oracle embeds the registered recommender spec
    (zero drift); novelty uses the playbook ln-device (each ln
    floor-quantized at e12, integer-summed — ln(B) - ln(n_j) keeps the
    per-slot term a pure BIGINT), coverage and concentration are exact
    cross-multiplied bp.

    100 TB: adds two hash-aggregates and one broadcast join on top of
    the recommender's own cost; the audit frame is slots-bounded (5
    per item).
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    recs = QUERIES["recsys_item_item_cosine"](spark, sf_dir)
    lines = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
        # ckpt-grain: slim-exception — 2-col distinct order x part keys
        .localCheckpoint(eager=False)
    )
    item_n = lines.groupBy("p").agg(F.count("*").cast("long").alias("n"))
    baskets = lines.agg(
        F.countDistinct("ok").cast("long").alias("nb")
    )
    catalog = load(spark, sf_dir, "part").agg(
        F.count("*").cast("long").alias("n_parts")
    )
    slots = (
        recs.join(item_n, recs.neighbor == item_n.p)
        .crossJoin(F.broadcast(baskets))
        .select(
            "item",
            "neighbor",
            (
                F.expr(_RS_LN_E12.format(x="nb"))
                - F.expr(_RS_LN_E12.format(x="n"))
            ).alias("novelty_e12"),
        )
        .persist()  # (item, neighbor) grain: data-proportional (r11 rule)
    )
    freq = slots.groupBy("neighbor").agg(F.count("*").cast("long").alias("cnt"))
    top10 = (
        freq.orderBy(F.desc("cnt"), "neighbor")
        .limit(10)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("top10_slots"))
    )
    agg = (
        slots.agg(
            F.countDistinct("item").cast("long").alias("n_items_with_recs"),
            F.count("*").cast("long").alias("n_slots"),
            F.sum("novelty_e12").cast("decimal(38,0)").alias("nov_sum"),
        )
        .crossJoin(F.broadcast(freq.agg(
            F.count("*").cast("long").alias("covered_neighbors")
        )))
        .crossJoin(F.broadcast(catalog))
        .crossJoin(F.broadcast(top10))
    )
    return agg.select(
        "n_items_with_recs",
        "n_slots",
        F.col("n_parts").alias("catalog_size"),
        "covered_neighbors",
        F.expr(
            "CAST((2 * covered_neighbors * 10000 + n_parts)"
            " DIV nullif(2 * n_parts, 0) AS BIGINT)"
        ).alias("coverage_bp"),
        F.expr(
            "CAST((2 * nov_sum + n_slots * 1000000)"
            " DIV nullif(2 * CAST(n_slots AS DECIMAL(38,0)) * 1000000, 0)"
            " AS BIGINT)"
        ).alias("mean_novelty_e6"),
        F.expr(
            "CAST((2 * top10_slots * 10000 + n_slots)"
            " DIV nullif(2 * n_slots, 0) AS BIGINT)"
        ).alias("top10_share_bp"),
    )
