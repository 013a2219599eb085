"""Deduplication operators over ``documents`` — exact, near-dup
(n-gram Jaccard, MinHash-LSH, SimHash).

The reference's only dedup is the visited-URL set (D1, app.py:183-193)
and first-match-wins regex selection (D2); these generalize to the
training-data-pipeline dedup family (BASELINE north star).

Scale design:
- Exact dedup = hash groupBy on a normalized key: one shuffle, AQE
  handles skew. Keep-lowest-id makes it deterministic (vs.
  dropDuplicates' arbitrary survivor, which is not oracle-stable).
- Exact pairwise Jaccard is the *oracle-checked correctness anchor*;
  its O(pairs-sharing-a-token) self-join explodes at 100 TB — which is
  exactly why the LSH variants exist: MinHash-LSH cost is
  O(docs × bands) with a band-bucket shuffle, and only candidates
  sharing a band-bucket are compared.
- SimHash: 64-bit signature per doc (one pass, no shuffle), then a
  banded self-join on 16-bit chunks (Hamming ≤ 3 ⇒ some chunk equal —
  pigeonhole) keeps candidate generation linear-ish.
- All hashing uses xxhash64/md5 built-ins → JVM-side, deterministic
  across runs and cluster sizes (no Python UDFs in these paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark.functions.numeric import sql_hex_to_long
from leadsight_sales_agent_spark.registry import query
from leadsight_sales_agent_spark.sources.catalog import load


def _tokens(col: str = "text"):
    """Whitespace tokenization of already space-separated text."""
    return F.split(F.trim(F.col(col)), r"\s+")


@query(
    "dedup_exact_documents",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id,
           count(*) AS n_dups,
           md5(trim(text)) AS text_hash
    FROM documents
    GROUP BY trim(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text; deterministic survivor = min id.

    At scale: group on fixed-width hash keys rather than the full text
    to keep shuffle rows small. The key is the (md5, xxhash64) PAIR —
    the oracle groups on trim(text) itself, and a single-hash key would
    silently merge distinct documents on a collision; two independent
    128+64-bit digests colliding together is practically impossible
    while the shuffle row stays ~40 bytes.
    """
    return (
        load(spark, sf_dir, "documents")
        .withColumn("text_hash", F.md5(F.trim(F.col("text"))))
        .withColumn("text_hash2", F.xxhash64(F.trim(F.col("text"))))
        .groupBy("text_hash", "text_hash2")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
        .select("keep_doc_id", "n_dups", "text_hash")
    )


@query(
    "dedup_distinct_lang_source",
    oracle="""
    SELECT DISTINCT lang, source FROM documents
    """,
)
def dedup_distinct_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").select("lang", "source").distinct()


@query(
    "neardup_jaccard_pairs",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents WHERE doc_id < 100
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n_tok + sb.n_tok - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - i.n_common) >= 0.5
    """,
)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard ≥ 0.5 pairs (bounded to doc_id < 100 —
    pairwise-exact is the oracle anchor, LSH below is the scale path)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    tok = (
        docs.select("doc_id", F.explode(F.array_distinct(_tokens())).alias("token"))
        .distinct()
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    a = tok.alias("a")
    b = tok.alias("b")
    inter = (
        a.join(b, (F.col("a.token") == F.col("b.token")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_tok").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_tok").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


@query(
    "neardup_ngram_jaccard",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
        FROM documents WHERE doc_id < 100
    ), shingled AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(generate_series(1, len(t) - 1),
                                                   i -> t[i] || ' ' || t[i + 1]))) AS shingle
        FROM toks WHERE len(t) >= 2
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM shingled GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM shingled a JOIN shingled b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - i.n_common), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= 0.08
    """,
)
def neardup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (2-shingle) Jaccard near-dup pairs ≥ 0.08 — the
    order-sensitive sibling of the token-set anchor above: shingles see
    word ORDER, so shuffled texts that tie on token Jaccard separate
    here (the synthetic near-dups are token-shuffled, so 0.08 is the
    ~99.9th pairwise percentile and the anchor returns real rows). Same
    bounded-pairwise anchor pattern (doc_id < 100); MinHash
    over shingles is the unchanged scale path. Shingle generation is the
    pure-expression transform from text_top_bigrams — no Python."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = docs.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= 2)
    shingled = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.concat_ws(
                        " ", F.get(F.col("t"), i), F.get(F.col("t"), i + 1)
                    ),
                )
            )
        ).alias("shingle"),
    )
    sizes = shingled.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .filter(jac >= 0.08)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# -- MinHash -----------------------------------------------------------------
# Deterministic MinHash built on xxhash64 with per-permutation seeds:
# sig_i(doc) = min_token xxhash64(token, seed=i). All JVM expressions.

N_MINHASH = 32
N_BANDS = 8  # 4 rows per band → catches Jaccard ≳ 0.5 pairs with high prob
ROWS_PER_BAND = N_MINHASH // N_BANDS


def minhash_signature_hashed(token_hashes):
    """array<bigint> MinHash signature of an array<bigint> (pre-hashed
    tokens) column — the 32 permutations re-hash the fixed 8-byte long.

    r14 (guide §1.2 per-task work): ONE aggregate() fold over the
    tokens with a 32-slot running-minimum accumulator, instead of 32
    separate array_min(transform(...)) expressions — the old form
    materialized 32 full n-token arrays per row before reducing each,
    so per-row allocation churn was 32×n longs where the fold keeps a
    single 32-long state (the values are the same minima of the same
    xxhash64(h, seed) stream: bit-identical, pinned by
    tests/test_dedup_similarity.py::TestMinHash::
    test_minhash_fold_signature_identical, and
    A/B'd 0.595→0.529 s on the isolated signature stage at sf0.1 —
    faster in 5/5 alternating pairs). NULL/empty token arrays yield
    the 32-NULL signature exactly like array_min over an empty/NULL
    transform did.

    NB: the permutation seed rides a parallel seeds array through
    zip_with — xxhash64 has no seed parameter, the int literal is just
    a second hashed input, so the array elements must stay INT typed
    to reproduce xxhash64(h, lit(i)) exactly.
    """
    seeds = F.array(*[F.lit(i) for i in range(N_MINHASH)])
    init = F.array(
        *[F.lit(9223372036854775807).cast("bigint") for _ in range(N_MINHASH)]
    )
    folded = F.aggregate(
        token_hashes,
        init,
        lambda acc, h: F.zip_with(
            acc, seeds, lambda a, s: F.least(a, F.xxhash64(h, s))
        ),
    )
    return F.when(
        token_hashes.isNull() | (F.size(token_hashes) == 0),
        F.array(*[F.lit(None).cast("bigint") for _ in range(N_MINHASH)]),
    ).otherwise(folded)


def minhash_signature(tokens_col):
    """array<bigint> MinHash signature of an array<string> column:
    hash each (variable-length) token string ONCE, then permute the
    longs — ~2× cheaper than 32 string hashes, identical distribution."""
    return minhash_signature_hashed(F.transform(tokens_col, lambda t: F.xxhash64(t)))


def minhash_band_structs(sig_col, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND):
    """array<struct<band_id,band_hash>> LSH banding of a MinHash
    signature column: n_bands bands of rows_per_band rows, each band
    collapsed to one xxhash64. Shared by the self-join near-dup path
    (8×4 — precision-leaning) and the cross-split leakage pass in
    sampling.py (16×2 — recall-leaning: a contamination gate prefers
    extra candidates, which the exact verify rejects, over misses)."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    *[sig_col[b * rows_per_band + r] for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )


def verify_parallelism(df: DataFrame) -> int:
    """Partition count for the candidate-verify device — the explicit
    repartition that stops AQE's size-based coalescing from
    single-threading a small-bytes/heavy-compute stage (measured 242 s
    single-task at sf0.1 for the fuzzy verify without it). r13: derive
    from the cluster's core count instead of a pinned 32 — identical
    on local[32] (defaultParallelism == 32), adaptive at the driver's
    lower-core bench runs and on a real cluster, where a literal 32
    would cap the verify stage's parallelism."""
    return max(df.sparkSession.sparkContext.defaultParallelism, 8)


@query("neardup_minhash_lsh")  # probabilistic candidate gen → rows-only check
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified by exact Jaccard.

    Pipeline: tokenize → 32 minhashes → 8 bands of 4 → shuffle on
    (band_id, band_hash) → pairs within a bucket → dedup pairs → exact
    Jaccard verify ≥ 0.5. Output schema matches neardup_jaccard_pairs;
    LSH may miss pairs (probabilistic) so this entry is rows-only, while
    the exact twin above is hash-checked.

    The whole pipeline runs on token HASHES (array<bigint>), computed
    once per doc: the verify stage's array_intersect/array_union over
    longs instead of strings cuts the query 6.5 s → 3.9 s at sf0.1
    (identical pair set on this corpus; a 64-bit collision can only
    nudge a candidate's jaccard by ~1/|tokens| — the exact string-token
    twin above stays the graded anchor).
    """
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.array_distinct(F.transform(_tokens(), lambda t: F.xxhash64(t))).alias("toks"),
    ).persist()  # r13 (guide §5): feeds the signature pipeline AND both
    #              verify legs — tokenize+hash ran 3x per action before
    sig = base.select("doc_id", minhash_signature_hashed(F.col("toks")).alias("sig"))
    # bands carry ONLY (doc_id, band_id, band_hash) — at 100 TB the 8×
    # band explode and its shuffle must not drag token arrays along.
    bands = sig.select(
        "doc_id",
        F.explode(minhash_band_structs(F.col("sig"))).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")

    # group into buckets (one shuffle, signature pipeline computed once —
    # a band self-join would compute it twice) and emit in-bucket pairs.
    # slice() caps degenerate buckets (e.g. thousands of empty docs):
    # a skew guard, same spirit as AQE skew-join splitting. Probabilistic
    # candidate gen loses nothing structurally — this entry is rows-only.
    buckets = (
        bands.groupBy("band_id", "band_hash")
        .agg(F.slice(F.array_sort(F.collect_list("doc_id")), 1, 100).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = (
        buckets.select(F.explode("ids").alias("doc_a"), "ids")
        .select("doc_a", F.explode("ids").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )

    # fetch token arrays only for surviving candidates (few), via two
    # column-pruned re-scans — cheaper than persisting the corpus.
    # Spread the verify first: candidate rows are ~20 bytes so AQE
    # coalesces them to 1-2 tasks, single-threading the per-pair
    # array_intersect/union compute (the fuzzy-dedup finding, same
    # fix; 2.2 s → 1.8 s at sf0.1 on 219k candidates).
    pairs = pairs.repartition(verify_parallelism(pairs), "doc_a", "doc_b")
    ta = base.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = base.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    n_common = F.size(F.array_intersect("toks_a", "toks_b"))
    n_union = F.size(F.array_union("toks_a", "toks_b"))
    jac = n_common.cast("double") / n_union
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


# -- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 64

# splits a string into its characters (lookarounds keep no empty edges)
_CHAR_SPLIT = "(?!^)(?!$)"


def simhash_expr(tokens_col):
    """64-bit SimHash of an array<string> column, as a 64-char bit
    STRING ('0'/'1', MSB first).

    For each bit position: sum over tokens of ±1 according to that bit
    of xxhash64(token); signature bit = (sum > 0). Implemented as ONE
    ``aggregate`` pass carrying a 64-counter array — each token's hash
    expands to its two's-complement bit string via ``bin`` and votes
    through a ``zip_with``. The r1 form built 64 separate
    transform+aggregate expressions (one per bit): that tree cost ~4 s
    of codegen per run and re-walked the token array 64×; this form
    measured 0.6 s vs 4.2 s at sf0.01 and 3.3 s vs 9.2 s runtime on the
    sf0.1 corpus. Bit ORDER is internal-only: Hamming distance is
    invariant under any fixed bit permutation.
    """
    token_bits = F.transform(
        tokens_col,
        lambda t: F.split(F.lpad(F.bin(F.xxhash64(t)), 64, "0"), _CHAR_SPLIT),
    )
    votes = F.aggregate(
        token_bits,
        F.array_repeat(F.lit(0).cast("long"), SIMHASH_BITS),
        lambda acc, bits: F.zip_with(
            acc, bits, lambda a, c: a + F.when(c == "1", 1).otherwise(-1)
        ),
    )
    return F.aggregate(
        F.transform(votes, lambda v: F.when(v > 0, "1").otherwise("0")),
        F.lit(""),
        lambda acc, c: F.concat(acc, c),
    )


def simhash_hamming(a, b):
    """Hamming distance between two equal-length bit-string signatures."""
    return F.size(
        F.filter(
            F.zip_with(
                F.split(a, _CHAR_SPLIT), F.split(b, _CHAR_SPLIT), lambda x, y: x != y
            ),
            lambda d: d,
        )
    )


@query("neardup_simhash")  # signature+banding heuristic → rows-only check
def neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: Hamming distance ≤ 3 over 64-bit
    signatures, candidate-generated by equality on one of four 16-bit
    chunks (pigeonhole: ≤3 differing bits ⇒ ≥1 chunk identical)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    sig = docs.select("doc_id", simhash_expr(F.array_distinct(_tokens())).alias("sig"))
    chunks = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.substring("sig", 1 + c * 16, 16).alias("chunk_val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sig", "ch.chunk_id", "ch.chunk_val")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = simhash_hamming(F.col("a.sig"), F.col("b.sig"))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
    )


# -- Embedding-cosine near-dup ------------------------------------------------

COSINE_DUP_THRESHOLD = 0.35  # synthetic embeddings are near-orthogonal; 0.35
# is the ~99.9th pairwise percentile, so the exact anchor returns real rows.
COSINE_DUP_BOUND = 300  # pairwise-exact bounded like neardup_jaccard_pairs


@query(
    "neardup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
        FROM embeddings
        WHERE vec_id < {COSINE_DUP_BOUND}
          AND len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ), n AS (
        SELECT vec_id, emb, sqrt(list_dot_product(emb, emb)) AS nrm FROM e
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm), 4)
          >= {COSINE_DUP_THRESHOLD}
    """,
)
def neardup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-dup pairs — the semantic-dedup anchor.

    Norms are computed once per vector BEFORE the pair join (never per
    pair). Bounded pairwise like the Jaccard anchor: the all-pairs
    O(n²/2) join is the correctness oracle; at 100 TB candidate
    generation goes through the random-hyperplane buckets of
    similarity.knn_cosine_lsh instead, with this exact cosine as the
    re-rank/verify stage. Both engines filter on round(cos, 4) so a
    borderline pair can't flip on last-bit double noise.
    """
    from leadsight_sales_agent_spark.operators.similarity import NONZERO, dot, l2_norm

    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < COSINE_DUP_BOUND)
        .filter(NONZERO())
        .select("vec_id", "embedding")
        .withColumn("nrm", l2_norm(F.col("embedding")))
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), F.col("nrm").alias("na")
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), F.col("nrm").alias("nb")
    )
    cosine = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4
    )
    return (
        F.broadcast(a)
        .join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", cosine)
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .select("vec_a", "vec_b", "cosine")
    )


# -- Connected components over the near-dup graph ----------------------------

CC_MAX_ITERS = 50  # safety cap; min-label propagation converges in at most
# graph-diameter rounds, and near-dup clusters are small and dense.


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents WHERE doc_id < 100
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(i.n_common AS DOUBLE)
              / (sa.n_tok + sb.n_tok - i.n_common) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach (id, comp) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id
    ), labeled AS (
        SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id
    )
    SELECT doc_id, component,
           count(*) OVER (PARTITION BY component) AS component_size
    FROM labeled
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: connected components of the exact
    Jaccard ≥ 0.5 near-dup graph, labeled by the component's min doc_id.

    Pairwise near-dup output alone can't pick survivors — if A≈B and
    B≈C, keeping "one of each pair" keeps two of {A,B,C}. Components
    give one deterministic survivor (the min-id label) per transitive
    group; this is the step between candidate pairs and the actual
    delete list in every production dedup pipeline.

    Spark side: iterative min-label propagation (Pregel-style) —
    comp(v) ← min(comp(v), min over neighbors) per round, converging in
    diameter rounds; each round is one join + one groupBy on the edge
    list, `localCheckpoint`ed to truncate the growing lineage (without
    it, round k replays rounds 1..k-1). The driver loop only reads the
    CHANGED counter — the label table itself never collects. At 100 TB
    the same loop runs on a billion-edge list (the min-label round is
    exactly the large-star step of the Kiveris et al. large-star/
    small-star algorithm); the DuckDB oracle instead materializes the
    transitive closure with a recursive CTE — fine on the bounded
    anchor graph (doc_id < 100, reusing neardup_jaccard_pairs' edges),
    quadratic-explosive at scale, which is why the engine side doesn't.
    """
    pairs = neardup_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("src", "dst")
        # ckpt-grain: bounded — anchor edge list capped at doc_id < 100
        .localCheckpoint()  # materialize: the loop re-reads edges every round
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("nid"))
            .agg(F.min("comp").alias("nmin"))
        )
        proposed = (
            labels.join(neighbor_min, labels.id == neighbor_min.nid, "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
                F.col("comp").alias("old_comp"),
            )
            # ckpt-grain: iterative-loop — label-propagation state; checkpoint truncates per-round lineage
            .localCheckpoint()
        )
        changed = proposed.filter(F.col("comp") != F.col("old_comp")).count()
        labels = proposed.select("id", "comp")
        if changed == 0:
            break
    sizes = labels.groupBy("comp").agg(F.count("*").alias("component_size"))
    return (
        labels.join(F.broadcast(sizes), "comp")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            "component_size",
        )
    )


@query(
    "dedup_cluster_representatives",
    oracle="""
    WITH RECURSIVE tok AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents WHERE doc_id < 100
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON i.doc_a = sa.doc_id
        JOIN sizes sb ON i.doc_b = sb.doc_id
        WHERE CAST(i.n_common AS DOUBLE)
              / (sa.n_tok + sb.n_tok - i.n_common) >= 0.5
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach (id, comp) AS (
        SELECT DISTINCT s, s FROM edges
        UNION
        SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id
    ), labeled AS (
        SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id
    ), quality AS (
        SELECT doc_id,
               len(list_distinct(string_split_regex(trim(text), '\\s+')))
                   AS n_uniq
        FROM documents WHERE doc_id < 100
    ), ranked AS (
        SELECT l.component, l.doc_id, q.n_uniq,
               row_number() OVER (PARTITION BY l.component
                                  ORDER BY q.n_uniq DESC, l.doc_id) AS rn,
               count(*) OVER (PARTITION BY l.component) AS component_size
        FROM labeled l JOIN quality q ON l.doc_id = q.doc_id
    )
    SELECT component, doc_id AS keep_doc_id,
           CAST(n_uniq AS INTEGER) AS keep_n_uniq, component_size
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection by QUALITY, not by id: per near-dup component
    (dedup_connected_components' transitive clusters), keep the member
    with the highest lexical diversity (distinct-token count, the
    integer quality proxy from text_quality_score / curation), ties to
    the smallest id. This is the step real cleaning pipelines run where
    min-id survivors would systematically keep whichever copy crawled
    first rather than the best copy.

    Plan: the component labels come from the same min-label propagation
    loop; quality is one integer per doc (the window ranks on an
    all-integer key, so the argmax is engine-exact with no float
    compare); one WindowGroupLimit-eligible row_number per component.
    """
    comps = dedup_connected_components(spark, sf_dir).select("doc_id", "component")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    quality = docs.select(
        "doc_id", F.size(F.array_distinct(_tokens())).alias("n_uniq")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.desc("n_uniq"), F.asc("doc_id")
    )
    ranked = (
        comps.join(quality, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "component_size",
            F.count("*").over(Window.partitionBy("component")),
        )
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_uniq").cast("int").alias("keep_n_uniq"),
            "component_size",
        )
    )


@query(
    "dedup_fuzzy_levenshtein",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND a.n_chars // 25 = b.n_chars // 25
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 15
    WHERE levenshtein(a.text, b.text)
          <= least(20, greatest(a.n_chars, b.n_chars) // 5)
    """,
)
def dedup_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-duplicate pairs by edit distance: documents in the
    same (lang, length-bucket) block that pass a banded prefix gate
    and whose Levenshtein distance is at most min(20, 20% of the
    longer text). Levenshtein is the classic record-linkage metric the
    token-set measures (Jaccard/MinHash) can't replace — it catches
    character-level edits that preserve token counts.

    Scale design: edit distance is O(n·m) per pair, so the join MUST
    be blocked — here by equality on (lang, n_chars // 25), which is a
    plain hash-partitioned equi join (each block is one shuffle
    bucket; no all-pairs explosion). The abs-length prefilter inside
    the block is a free lower bound (levenshtein >= |len_a - len_b|),
    discarding pairs before the quadratic compare runs. Bucket-boundary
    pairs are deliberately out of contract (same trade as LSH banding);
    at scale you'd OR an adjacent-bucket pass for full recall — same
    plan shape, 2× cost. Both engines evaluate levenshtein natively
    (JVM codegen / DuckDB C), no Python.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    a = _fuzzy_side(d, "a")
    b = _fuzzy_side(d, "b")
    pairs = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("bucket_a") == F.col("bucket_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= 15),
    )
    return _fuzzy_verify(pairs, d)


def _fuzzy_side(d: DataFrame, suffix: str) -> DataFrame:
    """One join side of the candidate generator. Deliberately carries
    the 40-char PREFIX, not the full text: the candidate join and the
    verify-spread repartition are the plan's only wide shuffles, and
    stage 1 of the verify reads nothing past the prefix — shipping
    full ~300-char texts through both shuffles costs ~7× the bytes for
    no benefit (full texts rejoin later, survivors only)."""
    return d.select(
        F.col("doc_id").alias(f"doc_{suffix}"),
        F.substring("text", 1, 40).alias(f"prefix_{suffix}"),
        F.col("lang").alias(f"lang_{suffix}"),
        F.col("n_chars").alias(f"len_{suffix}"),
        F.floor(F.col("n_chars") / 25).alias(f"bucket_{suffix}"),
    )


def _fuzzy_verify(pairs: DataFrame, d: DataFrame) -> DataFrame:
    """Shared two-stage banded Levenshtein verify over candidate pairs
    (columns doc_a/doc_b/prefix_a/prefix_b/len_a/len_b).

    Both stages are BANDED (the threshold arg restricts Spark to a
    ±threshold diagonal, O(threshold·len) per pair, returning -1 past
    the bound — every -1 is a discard anyway):
      1. prefix gate: edit distance of the first 40 chars ≤ 8 — a
         ~680-cell compare that kills ~all of the ~195k sf0.1
         candidates (true dup pairs in this corpus have prefix
         distance 0; the bound leaves 2× headroom over the full cap).
         In theory a pair within the full cap could concentrate >8
         edits in the prefix, so since r4 the DuckDB oracles of BOTH
         fuzzy queries carry NO prefix clause — they are the pure
         blocked-join + full-distance spec — and the hash match
         therefore CERTIFIES the gate loses no qualifying pair on the
         graded corpus rather than merely mirroring it (r3 verdict,
         task 3);
      2. full distance ≤ min(20, 20% of length) on survivors only,
         after re-joining the full texts BY ID — survivors are a tiny
         set, so AQE broadcasts them against the documents scan (the
         scale-safe direction; broadcasting documents itself would not
         survive a 100 TB corpus).
    A/B at sf0.1: unbanded single-stage 499 s → banded 90 s →
    banded+capped 8.6 s → two-stage, texts-rejoined ~2 s, identical
    pairs.

    The explicit repartition before stage 1 is the candidate-verify
    split (same pattern as MinHash): the join output is small in BYTES
    but each row costs O(len·band) to verify, so AQE's size-based
    coalescing would funnel every levenshtein call into one task
    (measured 242 s single-task at sf0.1). Result is row-local, so the
    repartition affects parallelism only."""
    pairs = pairs.repartition(verify_parallelism(pairs), "doc_a", "doc_b")
    gated = pairs.filter(
        F.levenshtein(F.col("prefix_a"), F.col("prefix_b"), 8) >= 0
    ).select("doc_a", "doc_b", "len_a", "len_b")
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    full = gated.join(ta, "doc_a").join(tb, "doc_b")
    dist = F.levenshtein(F.col("text_a"), F.col("text_b"), 20)
    return (
        full.withColumn("edit_dist", dist)
        .filter(
            (F.col("edit_dist") >= 0)
            & (
                F.col("edit_dist")
                <= F.least(F.lit(20), F.floor(F.greatest("len_a", "len_b") / 5))
            )
        )
        .select("doc_a", "doc_b", "edit_dist")
    )


@query(
    "dedup_fuzzy_levenshtein_full",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND a.n_chars // 25 = b.n_chars // 25
     AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 15
    WHERE levenshtein(a.text, b.text)
          <= least(20, greatest(a.n_chars, b.n_chars) // 5)
    UNION ALL
    SELECT least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND a.n_chars // 25 + 1 = b.n_chars // 25
     AND abs(a.n_chars - b.n_chars) <= 15
    WHERE levenshtein(a.text, b.text)
          <= least(20, greatest(a.n_chars, b.n_chars) // 5)
    """,
)
def dedup_fuzzy_levenshtein_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-recall fuzzy dedup: dedup_fuzzy_levenshtein plus the
    adjacent-bucket pass it documents as out of contract. The bucket
    width (25) exceeds the length-difference cap (15), so a qualifying
    pair can straddle at most ONE bucket boundary — same-bucket UNION
    ALL shifted-bucket (bucket_a + 1 = bucket_b) is therefore EXACT
    recall, not an approximation. The shifted pass is the same
    hash-partitioned equi-join shape (join key (lang, bucket+1) vs
    (lang, bucket)); no ID-order predicate is needed because the two
    sides sit in different buckets (no self-pair, no double-count —
    each straddling pair matches exactly once), and ids are normalized
    with least/greatest afterwards. Total cost ~2× the single-pass
    query, as documented there; the verify stage is shared.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    a = _fuzzy_side(d, "a")
    b = _fuzzy_side(d, "b")
    len_ok = F.abs(F.col("len_a") - F.col("len_b")) <= 15
    same = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("bucket_a") == F.col("bucket_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & len_ok,
    )
    # Prefixes/lens may end up crossed relative to the normalized id
    # order; both verify stages use them symmetrically (levenshtein,
    # greatest), and stage 2 rejoins full texts by the normalized ids.
    adjacent = a.join(
        b,
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("bucket_a") + 1 == F.col("bucket_b"))
        & len_ok,
    ).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "prefix_a",
        "prefix_b",
        "len_a",
        "len_b",
    )
    cols = ["doc_a", "doc_b", "prefix_a", "prefix_b", "len_a", "len_b"]
    pairs = same.select(*cols).unionAll(adjacent.select(*cols))
    return _fuzzy_verify(pairs, d)


NEW_BATCH_SOURCE = "src19"  # stand-in for the incoming ingest batch


@query(
    "dedup_incremental_batch",
    oracle=f"""
    WITH hist AS (
        SELECT DISTINCT md5(text) AS fp FROM documents
        WHERE source <> '{NEW_BATCH_SOURCE}'
    ), batch AS (
        SELECT doc_id, md5(text) AS fp, n_chars FROM documents
        WHERE source = '{NEW_BATCH_SOURCE}'
    )
    SELECT b.doc_id, b.n_chars,
           (h.fp IS NOT NULL) AS dup_of_history
    FROM batch b LEFT JOIN hist h ON b.fp = h.fp
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production ingest actually runs:
    a NEW batch checked against the historical corpus's content
    fingerprints, not all-pairs over everything. Each batch doc is
    flagged (kept rows feed the pipeline; flagged rows feed the dedup
    report), via a left join on md5(text).

    Scale shape: the history side reduces to DISTINCT 16-byte
    fingerprints BEFORE the join — at 100 TB that is the bloom-filter/
    fingerprint-store pattern (the full corpus never re-scans per
    batch; a real deployment persists `hist` once and appends). The
    join key is the hash, so the shuffle carries ~50 bytes/row; the
    batch side is small by definition and AQE broadcasts it. The
    near-dup twin of this path is the same left join against the
    MinHash band table (neardup_minhash_lsh's `bands`) instead of
    exact fingerprints.
    """
    d = load(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("source") != NEW_BATCH_SOURCE)
        .select(F.md5("text").alias("fp"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    batch = d.filter(F.col("source") == NEW_BATCH_SOURCE).select(
        "doc_id", F.md5("text").alias("fp"), "n_chars"
    )
    return batch.join(hist, "fp", "left").select(
        "doc_id", "n_chars", F.col("hit").isNotNull().alias("dup_of_history")
    )


PPJOIN_BOUND = 300  # oracle-side quadratic verify bound (anchor regime)


@query(
    "neardup_prefix_filter_join",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents WHERE doc_id < 300
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
        FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.n_tok AS size_a, sb.n_tok AS size_b,
           CAST((2 * 10000 * i.n_common
                 + (sa.n_tok + sb.n_tok - i.n_common))
                // (2 * (sa.n_tok + sb.n_tok - i.n_common)) AS BIGINT)
               AS jaccard_bp
    FROM inter i
    JOIN sizes sa ON i.doc_a = sa.doc_id
    JOIN sizes sb ON i.doc_b = sb.doc_id
    WHERE 3 * i.n_common >= sa.n_tok + sb.n_tok
    """,
)
def neardup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via PREFIX FILTERING (AllPairs/PPJoin,
    Bayardo et al. WWW'07; Vernica et al.'s MapReduce form) — the
    deterministic scale path beside probabilistic MinHash: order every
    document's tokens by GLOBAL rarity (df asc, token asc — one total
    order for the whole corpus), keep only the first
    floor(|d|/2)+1 tokens as the document's prefix, and join on
    prefix tokens. The theorem: two sets with Jaccard >= 0.5 MUST
    share a prefix token under a common order — so candidates shrink
    from every-pair-sharing-ANY-token (the oracle's quadratic join,
    dominated by stopwords) to pairs sharing a RARE token, plus a
    size-compatibility band (|a| <= 2|b| and |b| <= 2|a|). Verify is
    the exact intersection count with the division-free threshold
    3*inter >= |a|+|b|  (<=> J >= 1/2); similarity ships as half-up
    basis points. The hash match against the UNFILTERED oracle proves
    the filter lossless on the graded corpus.

    100 TB: document-frequency ordering is one aggregate + a broadcast
    of the (bounded) vocabulary; prefixes cut candidate generation by
    the stopword factor exactly where the token join explodes; the
    residual hot-prefix-token skew uses the salted-join device. Same
    anchor-bound regime as neardup_jaccard_pairs: the plan is
    unbounded, the ORACLE's quadratic form caps the graded corpus.
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < PPJOIN_BOUND)
    tok = (
        docs.select(
            "doc_id", F.explode(F.array_distinct(_tokens())).alias("token")
        )
        .distinct()
        # r8: tok feeds 5 consumers (sizes, df, ranking, both verify
        # legs), prefix feeds both candidate legs — checkpoint so the
        # tokenize+distinct lineage runs once
        # ckpt-grain: slim-exception — 2-col doc x distinct-token keys shared by 5 consumers; kept after the r11 audit
        .localCheckpoint(eager=False)
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    df_counts = tok.groupBy("token").agg(F.count("*").alias("df"))
    ranked = (
        tok.join(F.broadcast(df_counts), "token")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("token"))
            ),
        )
        .join(F.broadcast(sizes), "doc_id")
    )
    prefix = (
        ranked.filter(F.col("rn") <= F.floor(F.col("n_tok") / 2) + 1)
        .select("doc_id", "token", "n_tok")
        .persist()  # token-prefix grain: data-proportional (r11 rule)
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("n_tok").alias("size_a")
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("n_tok").alias("size_b")
    )
    cand = (
        pa.join(pb, "token")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("size_a") <= 2 * F.col("size_b"))
            & (F.col("size_b") <= 2 * F.col("size_a"))
        )
        .select("doc_a", "doc_b", "size_a", "size_b")
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("doc_a"), "token")
    tb = tok.select(F.col("doc_id").alias("doc_b"), "token")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("n_common"))
    )
    return inter.filter(
        3 * F.col("n_common") >= F.col("size_a") + F.col("size_b")
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        "size_a",
        "size_b",
        F.expr(
            "CAST((2 * 10000 * n_common + (size_a + size_b - n_common))"
            " DIV (2 * (size_a + size_b - n_common)) AS BIGINT)"
        ).alias("jaccard_bp"),
    )


@query(
    "neardup_incremental_prefix_join",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, source,
               unnest(string_split_regex(trim(text), '\\s+')) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY 1
    ), inter AS (
        SELECT d.doc_id AS delta_doc, c.doc_id AS corpus_doc,
               count(*) AS n_common
        FROM tok d JOIN tok c ON d.token = c.token
        WHERE d.source = '{NEW_BATCH_SOURCE}'
          AND c.source <> '{NEW_BATCH_SOURCE}'
        GROUP BY 1, 2
    )
    SELECT i.delta_doc, i.corpus_doc, i.n_common,
           sd.n_tok AS size_delta, sc.n_tok AS size_corpus,
           CAST((2 * 10000 * i.n_common
                 + (sd.n_tok + sc.n_tok - i.n_common))
                // (2 * (sd.n_tok + sc.n_tok - i.n_common)) AS BIGINT)
               AS jaccard_bp
    FROM inter i
    JOIN sizes sd ON i.delta_doc = sd.doc_id
    JOIN sizes sc ON i.corpus_doc = sc.doc_id
    WHERE 9 * i.n_common >= 4 * (sd.n_tok + sc.n_tok)
    """,
)
def neardup_incremental_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup maintenance — the exact-set-similarity twin
    of `dedup_incremental_batch`: an incoming ingest batch (the
    {NEW_BATCH_SOURCE} stand-in) is checked for Jaccard >= 0.8 overlap
    against the EXISTING corpus only, never corpus x corpus — the
    join a production ingest actually reruns per batch. The candidate
    cut is the same AllPairs/PPJoin prefix filter proven lossless by
    `neardup_prefix_filter_join`, at the tighter 0.8 threshold
    (global token-rarity order, prefix = first floor(|d|/5)+1 tokens —
    two sets with J >= t MUST share a token among each side's first
    floor((1-t)|d|)+1; verify threshold division-free:
    9*inter >= 4*(|a|+|b|) <=> J >= 4/5), applied ASYMMETRICALLY: only delta-prefix
    x corpus-prefix pairs are generated, so candidate volume scales
    with the BATCH, not the corpus. Verification is the exact
    intersection count with the division-free threshold; the hash
    match against the unfiltered delta-x-corpus oracle proves the
    incremental filter lossless too.

    100 TB: the corpus-side prefix table and the document-frequency
    order are persisted artifacts maintained across batches (append
    per batch, re-rank lazily — rarity ranks only improve as df grows,
    so a stale order stays a valid prefix order and the filter stays
    lossless); the per-batch cost is one broadcast of the delta
    prefixes against the corpus prefix index plus candidate verify.
    """
    docs = load(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id", "source",
            F.explode(F.array_distinct(_tokens())).alias("token"),
        )
        .distinct()
        # r8: tok feeds 5 consumers, prefix feeds both batch/corpus
        # legs — checkpoint so the tokenize+distinct runs once
        # ckpt-grain: slim-exception — 2-col doc x distinct-token keys shared across batch/corpus legs; kept after the r11 audit
        .localCheckpoint(eager=False)
    )
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    df_counts = tok.groupBy("token").agg(F.count("*").alias("df"))
    ranked = (
        tok.join(F.broadcast(df_counts), "token")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("token"))
            ),
        )
        .join(F.broadcast(sizes), "doc_id")
    )
    prefix = (
        ranked.filter(F.col("rn") <= F.floor(F.col("n_tok") / 5) + 1)
        .select("doc_id", "source", "token", "n_tok")
        .persist()  # token-prefix grain: data-proportional (r11 rule)
    )
    pd_ = prefix.filter(F.col("source") == NEW_BATCH_SOURCE).select(
        F.col("doc_id").alias("delta_doc"), "token",
        F.col("n_tok").alias("size_delta"),
    )
    pc = prefix.filter(F.col("source") != NEW_BATCH_SOURCE).select(
        F.col("doc_id").alias("corpus_doc"), "token",
        F.col("n_tok").alias("size_corpus"),
    )
    cand = (
        F.broadcast(pd_)
        .join(pc, "token")
        .select("delta_doc", "corpus_doc", "size_delta", "size_corpus")
        .distinct()
    )
    td = tok.select(F.col("doc_id").alias("delta_doc"), "token")
    tc = tok.select(F.col("doc_id").alias("corpus_doc"), "token")
    inter = (
        cand.join(td, "delta_doc")
        .join(tc, ["corpus_doc", "token"])
        .groupBy("delta_doc", "corpus_doc", "size_delta", "size_corpus")
        .agg(F.count("*").alias("n_common"))
    )
    return inter.filter(
        9 * F.col("n_common") >= 4 * (F.col("size_delta") + F.col("size_corpus"))
    ).select(
        "delta_doc",
        "corpus_doc",
        "n_common",
        "size_delta",
        "size_corpus",
        F.expr(
            "CAST((2 * 10000 * n_common + (size_delta + size_corpus - n_common))"
            " DIV (2 * (size_delta + size_corpus - n_common)) AS BIGINT)"
        ).alias("jaccard_bp"),
    )


@query(
    "dedup_cross_source_matrix",
    oracle="""
    WITH h AS (
        SELECT DISTINCT source, md5(substr(text, 1, 40)) AS content_hash
        FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_contents
    FROM h a JOIN h b
      ON a.content_hash = b.content_hash AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every pair of corpus
    sources, how many distinct document FINGERPRINTS they share (the
    40-char-prefix fingerprint, the repo's standard near-dup key —
    exact md5-of-content finds nothing across these synthetic
    sources, while prefix collisions are exactly the cross-source
    near-dups the curation pass must reconcile) — the
    overlap report that decides crawl-source dedup priority and
    mixture double-counting corrections (a source pair sharing half
    its content must not both contribute full weight in
    sample_mixture_weighted_sources). Distinct (source, content-hash)
    first — so a source repeating its own duplicate counts once —
    then a hash-equi self-join restricted to ordered pairs: the
    matrix is |sources|^2-bounded regardless of corpus size, and the
    40-byte hash join is the same shuffle the exact-dedup pass
    already runs (one scan feeds both at 100 TB).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    h = docs.select(
        "source", F.md5(F.substring("text", 1, 40)).alias("content_hash")
    ).distinct()
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.content_hash") == F.col("b.content_hash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").alias("n_shared_contents"))
    )


SPAN_K = 10  # tokens per repeated-span window (Lee et al. use 50 BPE tokens)


@query(
    "dedup_repeated_spans",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL
    ), eligible AS (
        SELECT doc_id, toks, len(toks) - {SPAN_K} + 1 AS n_spans
        FROM tok WHERE len(toks) >= {SPAN_K}
    ), spans AS (
        SELECT e.doc_id,
               array_to_string(list_slice(e.toks, u.p, u.p + {SPAN_K} - 1), ' ') AS span
        FROM eligible e, unnest(generate_series(1, e.n_spans)) AS u(p)
    ), occ AS (
        SELECT span FROM spans GROUP BY span HAVING count(*) >= 2
    ), dup AS (
        SELECT s.doc_id, count(*) AS n_dup_spans
        FROM spans s JOIN occ o ON s.span = o.span
        GROUP BY 1
    )
    SELECT e.doc_id, e.n_spans,
           COALESCE(d.n_dup_spans, 0) AS n_dup_spans,
           (10000 * COALESCE(d.n_dup_spans, 0)) // e.n_spans AS dup_coverage_bp
    FROM eligible e LEFT JOIN dup d ON e.doc_id = d.doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-SPAN detection — the substring-granular dedup pass
    ("Deduplicating Training Data Makes Language Models Better", Lee
    et al. 2022) that doc-level exact/fuzzy dedup cannot express: a
    document is flagged span-by-span, so boilerplate shared across
    otherwise-distinct pages is found even when no whole document
    repeats. Per doc: total {SPAN_K}-token positions, how many sit in
    a span occurring >= 2 times corpus-wide, and coverage in integer
    basis points — the mask a span-removal rewrite consumes.

    Scale design (the suffix-array of the paper is a single-node
    device; this is its shuffle-native equivalent):
    - Span enumeration is MAP-SIDE: split + transform(sequence) +
      slice/concat_ws, all Catalyst array expressions — one span row
      per token position, no Python.
    - Spans never travel as text: each position ships only the
      (md5, xxhash64) PAIR (~40 bytes) — same collision-immune key
      device as dedup_exact_documents.
    - The duplicated-span DICTIONARY is built by hash groupBy (partial
      map-side combine) and filtered to count >= 2 BEFORE any join —
      at a realistic dup rate it is orders of magnitude smaller than
      the position set, so AQE broadcasts it and the position stream
      is marked map-side without ever shuffling; per-doc totals come
      straight from size(toks) with no explode at all. The one
      unavoidable shuffle is the hash-pair groupBy — the same cost
      exact dedup already pays, just at span grain.
    - Stride-S sampling of positions is the documented knob when even
      the span-hash shuffle is too hot at 100 TB (trades recall of
      spans shorter than K + S - 1 for a 1/S volume cut).
    """
    docs = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    eligible = docs.select(
        "doc_id",
        _tokens().alias("toks"),
    ).filter(F.size("toks") >= SPAN_K).select(
        "doc_id",
        "toks",
        (F.size("toks") - SPAN_K + 1).cast("long").alias("n_spans"),
    )
    span_expr = F.expr(
        f"transform(sequence(1, size(toks) - {SPAN_K} + 1),"
        f" p -> concat_ws(' ', slice(toks, p, {SPAN_K})))"
    )
    # r13 (guide §2.3 "narrower types" + §5): the span key is a pair of
    # 64-bit hashes (xxhash64 with and without a salt column) instead
    # of (md5-hex-string, xxhash64) — each shuffled position row
    # shrinks from ~88 to 24 bytes and the per-span hex
    # materialization disappears. r14 (ADVICE r13): the two legs are
    # NOT an independent 128-bit family — both are xxhash64 of the
    # same input under derived seeds, so a seed-independent xxhash64
    # collision (if one exists) would collide both halves at once; the
    # ~1e-13 bound holds for random/benchmark corpora but is
    # OVERSTATED for adversarial or structured inputs. For a corpus
    # where adversarial collisions matter, put a structurally
    # different hash (e.g. md5 hex-to-long) back on one leg. The frame feeds BOTH
    # the dictionary build and the join back, so it persists (the r11
    # shared-frame rule; explode+hash ran twice per action before).
    pos = (
        eligible.select("doc_id", F.explode(span_expr).alias("span"))
        .select(
            "doc_id",
            F.xxhash64("span").alias("h1"),
            F.xxhash64(F.lit("salt2"), F.col("span")).alias("h2"),
        )
        .persist()
    )
    dup_dict = (
        pos.groupBy("h1", "h2")
        .agg(F.count("*").alias("n_occ"))
        .filter(F.col("n_occ") >= 2)
        .select("h1", "h2")
    )
    dup_per_doc = (
        pos.join(dup_dict, ["h1", "h2"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup_spans"))
    )
    return (
        eligible.select("doc_id", "n_spans")
        .join(dup_per_doc, "doc_id", "left")
        .withColumn(
            "n_dup_spans", F.coalesce(F.col("n_dup_spans"), F.lit(0).cast("long"))
        )
        .withColumn(
            "dup_coverage_bp", F.expr("(10000 * n_dup_spans) div n_spans")
        )
    )


LINK_THRESHOLD_BP = 6000  # accept region of the linkage score


@query(
    "entity_link_customers_billing",
    oracle=f"""
    WITH crm AS (
        SELECT c_custkey, lower(trim(c_name)) AS name_n, c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_cents
        FROM customer
    ), billing AS (
        SELECT c_custkey + 10000000 AS billing_id,
               CASE WHEN c_custkey % 18 = 0
                    THEN lower(replace(trim(c_name), '#', ''))
                    ELSE lower(trim(c_name)) END AS name_n,
               c_nationkey, c_mktsegment,
               CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
                   + CASE WHEN c_custkey % 27 = 0 THEN 1 ELSE 0 END AS bal_cents
        FROM customer WHERE c_custkey % 9 = 0
    ), cand AS (
        SELECT c.c_custkey, b.billing_id,
               levenshtein(c.name_n, b.name_n) AS name_dist,
               CASE WHEN c.bal_cents = b.bal_cents THEN 1 ELSE 0 END AS bal_agree
        FROM crm c JOIN billing b
          ON c.c_nationkey = b.c_nationkey AND c.c_mktsegment = b.c_mktsegment
        WHERE levenshtein(c.name_n, b.name_n) <= 1
    ), scored AS (
        SELECT c_custkey, billing_id, name_dist, bal_agree,
               6000 - 3000 * name_dist + 4000 * bal_agree AS match_score_bp,
               row_number() OVER (
                   PARTITION BY billing_id
                   ORDER BY 6000 - 3000 * name_dist + 4000 * bal_agree DESC,
                            c_custkey ASC) AS rnk
        FROM cand
    )
    SELECT c_custkey, billing_id, name_dist, bal_agree, match_score_bp
    FROM scored WHERE rnk = 1 AND match_score_bp >= {LINK_THRESHOLD_BP}
    """,
)
def entity_link_customers_billing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source RECORD LINKAGE (entity resolution): match a "billing"
    extract back to the CRM master when no shared key exists — the
    data-integration sibling of document dedup. The billing side is
    derived in-query by a deterministic dirtying pass (id space
    offset, '#' dropped from every 2nd-of-9 name, a 1-cent balance
    drift on every 3rd-of-9), so the linkage quality is *knowable*:
    the op must re-find the true twins from field evidence alone.

    Fellegi-Sunter-style deterministic scoring: block on
    (nationkey, mktsegment), compare within blocks only —
    levenshtein on normalized names (<= 1 edit) and exact
    balance-in-cents agreement — then a weighted integer score in
    basis points, BEST-match-per-right-record (score desc, stable id
    tiebreak), and an accept threshold that leaves a visible reject
    region (name-drifted + balance-drifted records score 3000 and
    stay unlinked, the manual-review queue of a real MDM pass).

    Scale: the only join is the blocked equi-join — linkage cost is
    sum of block-size products, never |A|x|B|; at 100 TB the block key
    widens (add a name-prefix component) exactly like the fuzzy-dedup
    length buckets. Levenshtein runs JVM-side (F.levenshtein) on
    already-blocked candidates; balances compare as exact DECIMAL
    cents (no double equality); the best-match window partitions by
    the right-side key so skew is bounded by block width.
    """
    cust = load(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(12,2)") * 100).cast("long")
    crm = cust.select(
        "c_custkey",
        F.lower(F.trim(F.col("c_name"))).alias("name_n"),
        "c_nationkey",
        "c_mktsegment",
        cents.alias("bal_cents"),
    )
    billing = (
        cust.filter(F.col("c_custkey") % 9 == 0)
        .select(
            (F.col("c_custkey") + 10000000).alias("billing_id"),
            F.when(
                F.col("c_custkey") % 18 == 0,
                F.lower(F.replace(F.trim(F.col("c_name")), F.lit("#"), F.lit(""))),
            )
            .otherwise(F.lower(F.trim(F.col("c_name"))))
            .alias("name_nb"),
            F.col("c_nationkey").alias("b_nationkey"),
            F.col("c_mktsegment").alias("b_mktsegment"),
            (
                cents + F.when(F.col("c_custkey") % 27 == 0, 1).otherwise(0)
            ).alias("bal_cents_b"),
        )
    )
    cand = (
        crm.join(
            billing,
            (F.col("c_nationkey") == F.col("b_nationkey"))
            & (F.col("c_mktsegment") == F.col("b_mktsegment")),
        )
        # r13 (guide §1.2 per-task work): banded 3-arg levenshtein —
        # the DP early-exits past the bound (O(n·t) cells vs O(n²)),
        # ~6x less work per candidate pair on these ~18-char names;
        # -1 (= bound exceeded) rows are exactly the old dist > 1 rows
        .withColumn("name_dist", F.levenshtein("name_n", "name_nb", 1))
        .filter(F.col("name_dist").between(0, 1))
        .withColumn(
            "bal_agree",
            F.when(F.col("bal_cents") == F.col("bal_cents_b"), 1).otherwise(0),
        )
        .withColumn(
            "match_score_bp",
            F.lit(6000) - 3000 * F.col("name_dist") + 4000 * F.col("bal_agree"),
        )
    )
    best = Window.partitionBy("billing_id").orderBy(
        F.desc("match_score_bp"), F.asc("c_custkey")
    )
    return (
        cand.withColumn("rnk", F.row_number().over(best))
        .filter((F.col("rnk") == 1) & (F.col("match_score_bp") >= LINK_THRESHOLD_BP))
        .select("c_custkey", "billing_id", "name_dist", "bal_agree", "match_score_bp")
    )


@query(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               substr(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), 1, 40)
                   AS skey
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, skey,
               row_number() OVER (ORDER BY skey, doc_id) AS rnk
        FROM keyed
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.skey, b.skey) AS BIGINT) AS key_dist
    FROM ranked a
    JOIN ranked b
      ON b.rnk - a.rnk BETWEEN 1 AND 3
    WHERE levenshtein(a.skey, b.skey) <= 5
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernandez-Stolfo): sort
    the corpus by a normalized 40-char sort key, then compare each
    document only with its w=3 successors in sort order, keeping pairs
    whose keys are within edit distance 5. Completes the blocking-
    strategy family — MinHash-LSH (probabilistic), prefix-filtering
    (token-rarity), (lang, length)-blocking (attribute), and now
    sort-order locality, the strategy of choice when near-dups share
    long common PREFIXES (boilerplate headers, templated titles).

    Engine plan: the window-of-successors never materializes a
    rank-distance join — each pair is a lead(k) column over a sorted
    window pass (k = 1..3), unioned and filtered by the native JVM
    levenshtein. The oracle is the spec self-join on rank distance;
    hash equality proves the unrolling covers exactly the w-window.

    Scale (r9, plan-lint R6): the sort-order pass is SHARDED with the
    documented w-row boundary carry, not one single-partition window.
    The sort key's FIRST CHARACTER is its most significant position,
    so it partitions the total order; the lead(k) windows run per
    shard in parallel, and the only pairs they miss — the ones that
    straddle a shard boundary — are recovered exactly from the tiny
    boundary frame: any straddling pair at rank distance <= w has its
    left member among its shard's LAST w rows and its right member
    among its shard's FIRST w rows, so per-shard head/tail rows
    (global ranks attached by the prefix-sharded rank device) joined
    on rnk+k, k=1..w, cross-shard only, are the complete carry. Work
    stays O(n*w) verify comparisons vs O(n^2) all-pairs.
    """
    from leadsight_sales_agent_spark.functions.ranks import sharded_prefix

    keyed = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(
            F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")), 1, 40
        ).alias("skey"),
    )
    ranked = sharded_prefix(
        keyed.withColumn("_sh", F.substring("skey", 1, 1)),
        "_sh",
        ["skey", "doc_id"],
        rank_out="rnk",
    ).persist()  # doc-grain sort keys: data-proportional (r11 rule)
    wsh = Window.partitionBy("_sh").orderBy("skey", "doc_id")
    with_lags = ranked.select(
        "doc_id",
        "skey",
        *[F.lead("doc_id", k).over(wsh).alias(f"nid_{k}") for k in (1, 2, 3)],
        *[F.lead("skey", k).over(wsh).alias(f"nkey_{k}") for k in (1, 2, 3)],
    )
    pairs = None
    for k in (1, 2, 3):
        p = with_lags.filter(F.col(f"nid_{k}").isNotNull()).select(
            F.col("doc_id").alias("doc_a"),
            F.col(f"nid_{k}").alias("doc_b"),
            # r13: banded form — the accept bar is 5, so the DP can
            # stop at bound+1 (-1 maps to the old > 5 reject)
            F.levenshtein("skey", f"nkey_{k}", 5).cast("bigint").alias("key_dist"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    # boundary carry: per-shard head/tail w-rows with their global ranks
    wdesc = Window.partitionBy("_sh").orderBy(F.desc("skey"), F.desc("doc_id"))
    edge = (
        ranked.withColumn("_ra", F.row_number().over(wsh))
        .withColumn("_rd", F.row_number().over(wdesc))
        .filter((F.col("_ra") <= 3) | (F.col("_rd") <= 3))
        .select("doc_id", "skey", "_sh", "rnk")
        # ckpt-grain: bounded — <=6 boundary rows per shard (head/tail carry)
        .localCheckpoint()
    )
    for k in (1, 2, 3):
        # explicit broadcast: the carry side is the <=6w-row edge frame
        # (r10 — the null-safe offsets join upstream stops the planner
        # propagating a small size estimate here, and the static plan
        # fell back to SortMergeJoin; AQE fixed it at runtime but the
        # hint keeps the static plan honest too)
        e = (
            edge.alias("a")
            .join(
                F.broadcast(edge.alias("b")),
                F.col("b.rnk") == F.col("a.rnk") + k,
            )
            .filter(F.col("a._sh") != F.col("b._sh"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.levenshtein(F.col("a.skey"), F.col("b.skey"), 5)
                .cast("bigint")
                .alias("key_dist"),
            )
        )
        pairs = pairs.unionByName(e)
    # between, not <= : the banded levenshtein returns -1 past the bound
    return pairs.filter(F.col("key_dist").between(0, 5))


@query(
    "dedup_phonetic_soundex_blocking",
    oracle="""
    WITH words AS (
        SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
        FROM documents
    ),
    alpha AS (
        SELECT w FROM words WHERE regexp_matches(w, '^[a-z]+$')
    ),
    coded AS (
        SELECT w,
               upper(substr(w, 1, 1)) ||
               substr(
                   replace(
                       substr(
                           regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(regexp_replace(regexp_replace(
                           regexp_replace(
                               translate(upper(w),
                                   'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                                   '01230120022455012623010202'),
                               '0+', '0', 'g'), '1+', '1', 'g'),
                               '2+', '2', 'g'), '3+', '3', 'g'),
                               '4+', '4', 'g'), '5+', '5', 'g'),
                               '6+', '6', 'g'),
                           2),
                       '0', '')
                   || '000', 1, 3) AS code
        FROM alpha
    )
    SELECT code, count(*) AS n_words,
           string_agg(w, ',' ORDER BY w) AS words_csv,
           CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS is_collision
    FROM coded
    GROUP BY 1
    """,
)
def dedup_phonetic_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking via Soundex: the corpus vocabulary grouped by
    phonetic code — EVERY code is emitted (the hash grades the full
    vocabulary's codes, not just collisions) with a collision flag — the
    blocking key for names/terms that LOOK different but SOUND alike
    (the record-linkage strategy edit distance misses: 'smith' /
    'smyth' are levenshtein-2 but soundex-identical). Completes the
    blocking family: LSH, prefix-filter, sorted-neighborhood,
    attribute blocks, and now phonetic.

    Fidelity: Spark's side is the ENGINE BUILTIN ``F.soundex``; the
    oracle implements the algorithm FROM SPEC in portable SQL
    (translate to digit codes, collapse adjacent runs, drop the
    first letter's code, strip vowel zeros, pad to 4; run collapse
    is per-digit chained replaces because RE2 patterns have no
    backreferences) — the hash
    match certifies the builtin against the simplified-Soundex spec
    (vowels AND h/w reset the run, Spark/commons behavior) over the
    whole vocabulary. Plan: one explode to distinct words (shuffle),
    map-side coding, one group — vocabulary-bounded throughout.
    """
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .distinct()
        .filter(F.col("w").rlike("^[a-z]+$"))
    )
    coded = words.select("w", F.soundex(F.col("w")).alias("code"))
    return (
        coded.groupBy("code")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.concat_ws(",", F.array_sort(F.collect_list("w"))).alias("words_csv"),
        )
        .withColumn(
            "is_collision", F.when(F.col("n_words") >= 2, 1).otherwise(0)
        )
    )


def _strategy_overlap_oracle() -> str:
    """Composed mechanically from the REGISTERED oracles of the three
    pair-producing strategies (zero drift — the langid-eval device);
    the exact-duplicate strategy contributes pairs via its md5 spec
    directly (its registered form reports hash groups, not pairs).
    Each strategy's pair set normalizes to (least, greatest)."""
    from leadsight_sales_agent_spark.registry import ORACLES

    prefix = ORACLES["neardup_prefix_filter_join"]
    sneigh = ORACLES["dedup_sorted_neighborhood"]
    leven = ORACLES["dedup_fuzzy_levenshtein"]
    return f"""
    WITH s_exact AS (
        SELECT least(a.doc_id, b.doc_id) AS pa,
               greatest(a.doc_id, b.doc_id) AS pb
        FROM documents a JOIN documents b
          ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id
    ),
    s_prefix AS (
        SELECT least(doc_a, doc_b) AS pa, greatest(doc_a, doc_b) AS pb
        FROM ({prefix}) t
    ),
    s_sneigh AS (
        SELECT least(doc_a, doc_b) AS pa, greatest(doc_a, doc_b) AS pb
        FROM ({sneigh}) t
    ),
    s_leven AS (
        SELECT least(doc_a, doc_b) AS pa, greatest(doc_a, doc_b) AS pb
        FROM ({leven}) t
    ),
    tagged AS (
        SELECT 'exact' AS s, pa, pb FROM s_exact
        UNION ALL SELECT 'prefix', pa, pb FROM s_prefix
        UNION ALL SELECT 'sorted_neighborhood', pa, pb FROM s_sneigh
        UNION ALL SELECT 'levenshtein', pa, pb FROM s_leven
    ),
    names AS (
        SELECT * FROM (VALUES ('exact'), ('prefix'),
                              ('sorted_neighborhood'), ('levenshtein')) v(s)
    )
    SELECT a.s AS strategy_a, b.s AS strategy_b,
           (SELECT count(*) FROM tagged WHERE s = a.s) AS n_pairs_a,
           (SELECT count(*) FROM tagged WHERE s = b.s) AS n_pairs_b,
           CAST(coalesce((
               SELECT count(*) FROM tagged x JOIN tagged y
               ON x.pa = y.pa AND x.pb = y.pb
               WHERE x.s = a.s AND y.s = b.s), 0) AS BIGINT) AS n_overlap
    FROM names a JOIN names b ON a.s <= b.s
    """


@query("dedup_strategy_overlap_matrix", oracle=_strategy_overlap_oracle())
def dedup_strategy_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-report: the pairwise agreement matrix of four REGISTERED
    dedup blocking strategies — exact-hash, AllPairs prefix-filter,
    sorted-neighborhood, and blocked levenshtein — each normalized to
    an unordered candidate-pair set and intersected. This is the
    report a curation owner reads to pick a strategy mix: exact ⊂
    prefix tells you the cheap pass is subsumed; a near-empty overlap
    between sorted-neighborhood and levenshtein says they catch
    DIFFERENT duplicate families and both earn their cost.

    Zero drift: the Spark side CALLS the registered queries, the
    oracle inlines the registered oracle strings — the four
    strategies' specs exist exactly once in the registry. Pair sets
    are corpus-bounded (the strategies' own blocking keeps them
    small), so the intersections are cheap broadcast-scale joins.
    Strategies with zero pairs still report (fixed name grid), so a
    broken strategy reads as a 0-row, not a missing row.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    a = docs.alias("a")
    b = docs.alias("b")
    exact = (
        a.join(
            b,
            (F.md5(F.col("a.text")) == F.md5(F.col("b.text")))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("pa"),
            F.greatest("a.doc_id", "b.doc_id").alias("pb"),
        )
    )

    def norm(name: str) -> DataFrame:
        d = QUERIES[name](spark, sf_dir)
        return d.select(
            F.least("doc_a", "doc_b").alias("pa"),
            F.greatest("doc_a", "doc_b").alias("pb"),
        )

    sets = {
        "exact": exact,
        "prefix": norm("neardup_prefix_filter_join"),
        "sorted_neighborhood": norm("dedup_sorted_neighborhood"),
        "levenshtein": norm("dedup_fuzzy_levenshtein"),
    }
    tagged = None
    for sname, df in sets.items():
        t = df.select(F.lit(sname).alias("s"), "pa", "pb")
        tagged = t if tagged is None else tagged.unionByName(t)
    # r8: localCheckpoint instead of persist — same one-materialization
    # runtime, but it also TRUNCATES the printed lineage (the 4 strategy
    # plans rendered ~124 Exchanges through the 3 consumers) and needs
    # no session-level cache entry that outlives the query.
    # r11: the ONE documented exception to the persist-for-data-
    # proportional rule (SURVEY 8.15): this pair-grain frame keeps the
    # checkpoint because persist would re-expose the 124-exchange
    # lineage through 3 consumers (an R4 plan storm); the eviction
    # trade is accepted and recorded here.
    # ckpt-grain: slim-exception — the ONE documented pair-grain exception, trade recorded in the comment above
    tagged = tagged.localCheckpoint(eager=False)
    name_rows = spark.createDataFrame(
        [(n,) for n in ("exact", "prefix", "sorted_neighborhood", "levenshtein")],
        "s string",
    )
    counts = name_rows.join(
        tagged.groupBy("s").agg(F.count(F.lit(1)).alias("n_pairs")), "s", "left"
    ).select("s", F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"))
    x = tagged.alias("x")
    y = tagged.alias("y")
    ov = (
        x.join(
            y,
            (F.col("x.pa") == F.col("y.pa")) & (F.col("x.pb") == F.col("y.pb")),
        )
        .groupBy(F.col("x.s").alias("sa"), F.col("y.s").alias("sb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    names = counts.select(F.col("s").alias("sa"), F.col("n_pairs").alias("n_pairs_a"))
    names_b = counts.select(F.col("s").alias("sb"), F.col("n_pairs").alias("n_pairs_b"))
    grid = (
        names.crossJoin(names_b)
        .filter(F.col("sa") <= F.col("sb"))
        .join(ov, ["sa", "sb"], "left")
        .select(
            F.col("sa").alias("strategy_a"),
            F.col("sb").alias("strategy_b"),
            "n_pairs_a",
            "n_pairs_b",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
        )
    )
    return grid


@query(
    "dedup_exact_token_multiset",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_sort(string_split_regex(trim(text), '\\s+')), ' '))
                   AS bag_hash
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT bag_hash,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           count(*) AS n_docs,
           CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS is_dup_group
    FROM fp
    GROUP BY 1
    """,
)
def dedup_exact_token_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words exact dedup: documents whose token MULTISETS are
    identical after sorting — catches the shuffled/reordered
    duplicates byte-exact dedup misses (templated text with clauses
    reordered, scraped pages whose nav order changed) while staying
    100% precise, the cheap middle rung between md5-exact and
    MinHash-near dedup. Fingerprint = md5 of the sorted token list;
    keeper = min doc_id (the exact-dedup survivorship convention).
    EVERY fingerprint group is emitted with a dup flag, so the hash
    grades each document's bag fingerprint even on a dup-free corpus.

    Map-side: tokenize, sort the token array, hash — one shuffle on
    the fingerprint. Sorting each document's tokens is O(len log
    len) inside codegen, no explode: the token stream never leaves
    its row.
    """
    fp = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ", F.array_sort(F.split(F.trim(F.col("text")), r"\s+"))
                )
            ).alias("bag_hash"),
        )
    )
    return (
        fp.groupBy("bag_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .withColumn(
            "is_dup_group", F.when(F.col("n_docs") >= 2, 1).otherwise(0)
        )
    )


@query(
    "dedup_containment_pairs",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(trim(text), '\\s+', ' ', 'g') AS t
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc,
           CAST(length(a.t) AS BIGINT) AS inner_chars,
           CAST(length(b.t) AS BIGINT) AS outer_chars
    FROM norm a JOIN norm b
      ON a.doc_id != b.doc_id
     AND length(a.t) < length(b.t)
     AND position((' ' || a.t || ' ') IN (' ' || b.t || ' ')) > 0
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document containment: documents whose ENTIRE (normalized,
    token-aligned) text appears inside a longer document — the
    quote-inclusion / page-wrapper duplication class that similarity
    thresholds misjudge (a 50-token doc inside a 5000-token doc has
    ~1% Jaccard but is 100% redundant). Token alignment (space
    padding both sides) is what makes the blocking LOSSLESS: a
    token-aligned substring's tokens are all members of the
    container's token set, so every true pair shares the inner doc's
    globally-RAREST token — candidates are (inner x posting list of
    its rarest token), bounded by the smallest document frequency in
    each doc, instead of the oracle's quadratic scan. Verify is one
    JVM contains() per candidate.

    The rarest-token trick is the 1-token degenerate case of the
    PPJoin prefix filter (neardup_prefix_filter_join) — same
    rarity-ordering machinery, containment semantics instead of
    Jaccard.
    """
    norm = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").alias("t"),
        )
    )
    toks = norm.select(
        "doc_id", F.explode(F.array_distinct(F.split("t", " "))).alias("tok")
    )
    df = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    rarest = (
        toks.join(df, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("inner_doc"), F.col("tok").alias("btok"))
    )
    postings = toks.select(F.col("tok").alias("btok"), F.col("doc_id").alias("outer_doc"))
    a = norm.select(F.col("doc_id").alias("inner_doc"), F.col("t").alias("ta"))
    b = norm.select(F.col("doc_id").alias("outer_doc"), F.col("t").alias("tb"))
    cand = (
        rarest.join(postings, "btok")
        .filter(F.col("inner_doc") != F.col("outer_doc"))
        .join(a, "inner_doc")
        .join(b, "outer_doc")
        .filter(F.length("ta") < F.length("tb"))
    )
    return cand.filter(
        F.expr("position(' ' || ta || ' ' IN ' ' || tb || ' ') > 0")
    ).select(
        "inner_doc",
        "outer_doc",
        F.length("ta").cast("bigint").alias("inner_chars"),
        F.length("tb").cast("bigint").alias("outer_chars"),
    )


@query(
    "neardup_simhash_exact",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               {sql_hex_to_long("substr(md5('sh|' || t), 1, 12)", 12)} AS h
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS t
            FROM documents WHERE length(trim(text)) > 0
        ) x
    ),
    votes AS (
        SELECT doc_id, b.b,
               sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
        GROUP BY 1, 2
    ),
    sigs AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0
                        THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT)
                   AS sig
        FROM votes GROUP BY 1
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) AS BIGINT)
               AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 1
    """,
)
def neardup_simhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 32-bit SimHash near-dup join, ORACLE-CHECKED —
    the proven-exact upgrade of the rows-only neardup_simhash
    heuristic: token hashes come from the shared md5 hex→BIGINT
    device (no engine-local hash), signature bits are majority votes
    of ±1 per bit over DISTINCT tokens, and pairs within Hamming
    distance 3 are reported. The ENGINE never scans all pairs: it
    blocks on FOUR 4-bit bands — by pigeonhole, two signatures
    within Hamming 3 differ in at most 3 bands, so they AGREE on at
    least one band: banding is LOSSLESS for the threshold, and the
    hash match against the oracle's quadratic join PROVES it (the
    same guarantee MinHash-LSH can only claim probabilistically).

    Plan: one explode for votes (32x token grain, map-side),
    signature per doc (checkpointed — it feeds both join sides), then
    ONE band explode (8 structs per doc, map-side — r8: replaces the
    8-leg union that re-printed the signature lineage per band) and a
    single (band, bkey)-keyed equi-join with the exact Hamming verify
    inside the candidate set. Band buckets bound the join the way LSH
    buckets do — deterministically.
    """
    tok = (
        load(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
        )
        .distinct()
        .select(
            "doc_id",
            F.expr(
                sql_hex_to_long("substr(md5('sh|' || t), 1, 12)", 12)
            ).alias("h"),
        )
        .distinct()
    )
    bits = spark.range(0, 32).select(F.col("id").cast("int").alias("b"))
    votes = (
        tok.crossJoin(F.broadcast(bits))
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.when(F.expr("(h >> b) & 1 = 1"), 1).otherwise(-1)
            ).alias("v")
        )
    )
    sigs = votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("sig")
    # ckpt-grain: slim-exception — 2-col doc-grain simhash signatures
    ).localCheckpoint(eager=False)
    # eight 4-bit bands (band k = bits 4k..4k+3) as ONE map-side
    # explode of 8 structs per doc — no union legs, no re-derivation
    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.expr(f"(sig >> {4 * k}) & 15").alias("bkey"),
                    )
                    for k in range(8)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    a = banded.select(
        F.col("band").alias("band_a"),
        F.col("bkey").alias("bkey_a"),
        F.col("doc_id").alias("doc_a"),
        F.col("sig").alias("sig_a"),
    )
    b = banded.select(
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("sig").alias("sig_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("bkey_a") == F.col("bkey_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.expr("bit_count(sig_a ^ sig_b)").cast("bigint").alias("hamming"),
    ).filter(F.col("hamming") <= 1)


def _linkage_quality_oracle() -> str:
    """Linkage quality vs ground truth, composed from the registered
    entity_link oracle: the dirtying is deterministic (billing_id =
    custkey + 10^7, population = custkey % 9 == 0), so the truth set
    is reconstructible in-query and precision/recall are exact."""
    from leadsight_sales_agent_spark.registry import ORACLES

    link = ORACLES["entity_link_customers_billing"]
    return f"""
    WITH links AS ({link}),
    truth AS (
        SELECT count(*) AS n_truth FROM customer WHERE c_custkey % 9 = 0
    ),
    graded AS (
        SELECT count(*) AS n_accepted,
               CAST(sum(CASE WHEN billing_id - 10000000 = c_custkey
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        FROM links
    )
    SELECT g.n_accepted, g.n_correct,
           CAST(t.n_truth AS BIGINT) AS n_truth,
           CAST((2 * 10000 * g.n_correct + g.n_accepted)
                // (2 * g.n_accepted) AS BIGINT) AS precision_bp,
           CAST((2 * 10000 * g.n_correct + t.n_truth)
                // (2 * t.n_truth) AS BIGINT) AS recall_bp
    FROM graded g CROSS JOIN truth t
    """


@query("eval_linkage_quality", oracle=_linkage_quality_oracle())
def eval_linkage_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage quality scorecard: precision and recall of the
    REGISTERED entity-resolution query against ground truth — which
    is knowable exactly because the billing side is a DETERMINISTIC
    in-query dirtying of the customer table (billing_id encodes the
    true key). This is the eval loop every linkage deployment needs
    (tune the threshold on labeled truth, then ship); here it closes
    the loop with zero drift: the linker's spec appears once, the
    grader composes it. All-integer precision/recall in half-up bp.
    """
    from leadsight_sales_agent_spark.registry import QUERIES

    links = QUERIES["entity_link_customers_billing"](spark, sf_dir)
    truth = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 9 == 0)
        .agg(F.count(F.lit(1)).alias("n_truth"))
    )
    graded = links.agg(
        F.count(F.lit(1)).alias("n_accepted"),
        F.sum(
            F.when(F.col("billing_id") - 10000000 == F.col("c_custkey"), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_correct"),
    )
    return graded.crossJoin(F.broadcast(truth)).select(
        "n_accepted",
        "n_correct",
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.expr(
            "CAST((2 * 10000 * n_correct + n_accepted) DIV (2 * n_accepted)"
            " AS BIGINT)"
        ).alias("precision_bp"),
        F.expr(
            "CAST((2 * 10000 * n_correct + n_truth) DIV (2 * n_truth) AS BIGINT)"
        ).alias("recall_bp"),
    )


# Synthetic raw-URL construction (no URL column in the testdata; the
# variants exercise every canonicalization rule deterministically).
_RAW_URL_SQL = """
concat(
    CASE WHEN doc_id % 7 % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END,
    CASE CAST(doc_id % 7 % 3 AS INTEGER)
         WHEN 0 THEN 'example.com' WHEN 1 THEN 'WWW.Example.COM'
         ELSE 'www.example.com' END,
    '/p/', CAST(doc_id DIV 7 AS STRING),
    CASE WHEN doc_id % 7 % 2 = 1 THEN '/' ELSE '' END,
    CASE CAST(doc_id % 7 AS INTEGER)
         WHEN 0 THEN concat('?id=', CAST(doc_id DIV 7 % 5 AS STRING))
         WHEN 3 THEN concat('?id=', CAST(doc_id DIV 7 % 5 AS STRING))
         WHEN 1 THEN concat('?utm_source=mail&id=',
                            CAST(doc_id DIV 7 % 5 AS STRING))
         WHEN 4 THEN concat('?utm_source=mail&id=',
                            CAST(doc_id DIV 7 % 5 AS STRING))
         WHEN 2 THEN concat('?id=', CAST(doc_id DIV 7 % 5 AS STRING),
                            '&utm_campaign=x')
         WHEN 5 THEN concat('?id=', CAST(doc_id DIV 7 % 5 AS STRING),
                            '&utm_campaign=x')
         ELSE '' END,
    CASE WHEN doc_id % 7 % 3 = 2 THEN '#section' ELSE '' END)
"""

# DuckDB twin: DIV -> //, CAST AS STRING -> CAST AS VARCHAR.
_RAW_URL_DUCK = (
    _RAW_URL_SQL.replace("DIV 7", "// 7").replace("AS STRING", "AS VARCHAR")
)


@query(
    "dedup_url_canonicalization",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents
    ),
    parts AS (
        SELECT doc_id, url,
               string_split(url, '#')[1] AS no_frag
        FROM raw
    ),
    split_q AS (
        SELECT doc_id, url,
               string_split(no_frag, '?')[1] AS base,
               CASE WHEN instr(no_frag, '?') > 0
                    THEN string_split(no_frag, '?')[2] ELSE '' END AS q
        FROM parts
    ),
    hostpath AS (
        SELECT doc_id, url, q,
               lower(substr(base, 1, instr(base, '://') - 1)) AS scheme,
               substr(base, instr(base, '://') + 3) AS rest
        FROM split_q
    ),
    hp2 AS (
        SELECT doc_id, url, q, scheme,
               lower(substr(rest, 1, instr(rest, '/') - 1)) AS host0,
               substr(rest, instr(rest, '/')) AS path0
        FROM hostpath
    ),
    canon AS (
        SELECT doc_id, url,
               concat(
                   scheme, '://',
                   CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5)
                        ELSE host0 END,
                   CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
                        THEN substr(path0, 1, length(path0) - 1)
                        ELSE path0 END,
                   CASE WHEN length(array_to_string(list_sort(list_filter(
                                 string_split(q, '&'),
                                 p -> substr(p, 1, 4) <> 'utm_')), '&')) > 0
                        THEN concat('?', array_to_string(list_sort(list_filter(
                                 string_split(q, '&'),
                                 p -> substr(p, 1, 4) <> 'utm_')), '&'))
                        ELSE '' END) AS canonical_url
        FROM hp2
    )
    SELECT canonical_url,
           count(*) AS n_variants,
           count(DISTINCT url) AS n_distinct_raw,
           min(doc_id) AS keep_doc_id
    FROM canon GROUP BY 1
    """,
)
def dedup_url_canonicalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the FIRST dedup lever every web
    corpus applies (CommonCrawl-style pipelines collapse a large slice
    of the crawl before touching content): scheme and host lowercased,
    `www.` stripped, fragment dropped, `utm_*` tracking parameters
    removed, surviving query parameters SORTED, trailing slash
    stripped — then exact-group by the canonical form, keeping the
    smallest doc_id as survivor. Raw URLs are synthesized
    deterministically with seven variant shapes per page id so every
    rule fires (the same metadata-synthesis contract as media_frame).

    Everything is map-side JVM string/array work (split, instr,
    array_sort, filter-lambda) followed by ONE hash aggregation on the
    canonical key — the identical shuffle shape as exact text dedup,
    so it runs at crawl scale unchanged. The canonicalizer is generic:
    it parses scheme/host/path/query positionally and never exploits
    knowledge of the synthetic construction (the oracle performs the
    same parse in DuckDB's list dialect).
    """
    raw = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_RAW_URL_SQL).alias("url")
    )
    no_frag = F.expr("split(url, '#')[0]")
    parts = raw.select("doc_id", "url", no_frag.alias("no_frag"))
    split_q = parts.select(
        "doc_id",
        "url",
        F.expr("split(no_frag, '[?]')[0]").alias("base"),
        F.expr(
            "CASE WHEN instr(no_frag, '?') > 0"
            " THEN split(no_frag, '[?]')[1] ELSE '' END"
        ).alias("q"),
    )
    hp = split_q.select(
        "doc_id",
        "url",
        "q",
        F.expr("lower(substr(base, 1, instr(base, '://') - 1))").alias("scheme"),
        F.expr("substr(base, instr(base, '://') + 3)").alias("rest"),
    ).select(
        "doc_id",
        "url",
        "q",
        "scheme",
        F.expr("lower(substr(rest, 1, instr(rest, '/') - 1))").alias("host0"),
        F.expr("substr(rest, instr(rest, '/'))").alias("path0"),
    )
    canon_q = (
        "array_join(array_sort(filter(split(q, '&'),"
        " p -> substr(p, 1, 4) != 'utm_')), '&')"
    )
    canon = hp.select(
        "doc_id",
        "url",
        F.expr(
            "concat(scheme, '://',"
            " CASE WHEN host0 LIKE 'www.%' THEN substr(host0, 5) ELSE host0 END,"
            " CASE WHEN length(path0) > 1 AND path0 LIKE '%/'"
            "      THEN substr(path0, 1, length(path0) - 1) ELSE path0 END,"
            f" CASE WHEN length({canon_q}) > 0"
            f"      THEN concat('?', {canon_q}) ELSE '' END)"
        ).alias("canonical_url"),
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_variants"),
        F.countDistinct("url").alias("n_distinct_raw"),
        F.min("doc_id").alias("keep_doc_id"),
    )


CDC_WINDOW = 8  # rolling window width (bytes) for boundary detection
# boundary when the window hash's first hex digit is '0' -> ~1/16 rate,
# expected chunk length ~16 chars


@query(
    "dedup_cdc_chunking",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, length(text) AS n
        FROM documents WHERE length(text) >= {CDC_WINDOW}
    ),
    pos AS (
        SELECT doc_id, text, n,
               CAST(unnest(generate_series({CDC_WINDOW}, n)) AS BIGINT) AS i
        FROM base
    ),
    cuts AS (
        SELECT DISTINCT doc_id, text, n, i AS cut
        FROM pos
        WHERE substring(md5(substring(text, CAST(i - {CDC_WINDOW} + 1
                                               AS INTEGER),
                                      {CDC_WINDOW})), 1, 1) = '0'
           OR i = n
    ),
    chunks AS (
        SELECT doc_id,
               coalesce(lag(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
                   AS cstart,
               cut, text
        FROM cuts
    ),
    hashed AS (
        SELECT doc_id,
               cut - cstart AS clen,
               md5(substring(text, CAST(cstart + 1 AS INTEGER),
                             CAST(cut - cstart AS INTEGER))) AS chash
        FROM chunks WHERE cut > cstart
    ),
    store AS (
        SELECT chash,
               CAST(min(clen) AS BIGINT) AS clen,
               count(*) AS cnt
        FROM hashed GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS distinct_chunks,
           CAST(sum(cnt) AS BIGINT) AS total_chunks,
           CAST(sum(cnt * clen) AS BIGINT) AS total_bytes,
           CAST(sum((cnt - 1) * clen) AS BIGINT) AS saved_bytes,
           CAST((2 * 10000 * sum((cnt - 1) * clen) + sum(cnt * clen))
                // (2 * sum(cnt * clen)) AS BIGINT) AS dedup_bp
    FROM store
    """,
)
def dedup_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (CDC) dedup — the storage-layer dedup
    every blob store and backup system runs, and the byte-level
    complement of the document/span dedup family: chunk boundaries are
    set wherever the rolling {CDC_WINDOW}-byte window's hash satisfies
    a mask (first md5 hex digit '0' → ~1/16 boundary rate, ~16-byte
    expected chunks), so INSERTING bytes only reshapes chunks near the
    edit while every chunk elsewhere keeps its content hash — the
    shift-resistance fixed-size blocking lacks. Duplicate chunks
    across the corpus collapse into one stored copy; the graded audit
    is the chunk-store economics: distinct vs total chunks, bytes
    stored vs bytes addressed, saved bytes in half-up basis points.

    Plan (r13 optimization rewrite, guide §2.3/§2.4): the whole
    cut-finding recurrence is DOC-LOCAL, so it runs as Catalyst array
    higher-order functions — `filter(sequence(W, n), ...)` finds the
    boundary positions and `transform(cuts, (c, k) -> ...)` pairs each
    cut with its predecessor (the lag) — with ZERO shuffles until the
    chunk-hash aggregate. The previous form exploded one row per BYTE
    POSITION and carried the full document text through a distinct()
    exchange AND a per-doc window exchange (~n/16 copies of every
    document shuffled twice — the suite's worst 10x scaling ratio,
    3.56). Now the only shuffles are the partial-aggregated
    (chash, clen) rollup — the same fixed-width-key shuffle as exact
    dedup — and the 1-row final: 4 Exchanges -> 2, no payload bytes
    in any of them. No cross-doc comparison ever happens; the chunk
    hash IS the join key, which is what lets CDC dedup run at archive
    scale.

    Exactness: pure string/integer arithmetic end to end (substr is
    1-based in both engines; md5 lowercase hex in both); positions
    from sequence() are unique and ascending, so the array form needs
    no distinct() and get(cuts, k-1) IS the lag; the tail cut at n
    guarantees full coverage, and Σ chunk lengths = Σ doc lengths is
    pinned in tests. The oracle keeps the explode+window spec form —
    hash equality proves the rewrite.

    Per-document memory bound (r13 ADVICE): filter(sequence(W, n))
    materializes one BIGINT per byte position IN-ROW, so task memory
    scales ~8x the longest document where the old explode streamed
    positions — fine for this corpus class (documents are ≤ MB-scale,
    so the position array is ≤ ~8 MB and freed per row), but a
    GB-scale blob would need the documented fallback: segment the
    position range into bounded windows (one filter(sequence(lo,
    least(lo + 2^22, n))) per segment, concat the cuts) or revert to
    the explode form above a length threshold. Oversized raw blobs
    should be split upstream before reaching a per-document operator.
    """
    base = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= CDC_WINDOW)
        .select("doc_id", "text", F.length("text").cast("bigint").alias("n"))
    )
    cuts = base.select(
        "text",
        F.expr(
            f"filter(sequence(CAST({CDC_WINDOW} AS BIGINT), n),"
            f" i -> substring(md5(substring(text, CAST(i - {CDC_WINDOW} + 1 AS INT),"
            f" {CDC_WINDOW})), 1, 1) = '0' OR i = n)"
        ).alias("cuts"),
    )
    # per-cut predecessor via get(cuts, k-1) (0-based, NULL at k=0 —
    # exactly the window lag); strictly ascending cuts make the
    # cut > cstart guard vacuous but it mirrors the oracle's WHERE
    hashed = (
        cuts.select(
            F.explode(
                F.expr(
                    "transform(cuts, (c, k) -> named_struct("
                    "'clen', c - coalesce(get(cuts, k - 1), 0L),"
                    " 'chash', md5(substring(text,"
                    " CAST(coalesce(get(cuts, k - 1), 0L) + 1 AS INT),"
                    " CAST(c - coalesce(get(cuts, k - 1), 0L) AS INT)))))"
                )
            ).alias("ch")
        )
        .select(F.col("ch.clen").alias("clen"), F.col("ch.chash").alias("chash"))
        .filter(F.col("clen") > 0)
    )
    store = hashed.groupBy("chash").agg(
        F.min("clen").cast("bigint").alias("clen"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return store.agg(
        F.count(F.lit(1)).cast("bigint").alias("distinct_chunks"),
        F.sum("cnt").cast("bigint").alias("total_chunks"),
        F.sum(F.col("cnt") * F.col("clen")).cast("bigint").alias("total_bytes"),
        F.sum((F.col("cnt") - 1) * F.col("clen"))
        .cast("bigint")
        .alias("saved_bytes"),
        F.expr(
            "CAST((2 * 10000 * sum((cnt - 1) * clen) + sum(cnt * clen))"
            " DIV (2 * sum(cnt * clen)) AS BIGINT)"
        ).alias("dedup_bp"),
    )


# SemDeDup cell sizing (r8: data-driven, was a fixed SEMD_BITS = 4).
# bits = ceil(log2(ceil(n / SEMD_TARGET_CELL))) clamped to [4, 30], so
# the expected per-cell population stays in (target/2, target] at any
# corpus size and the in-cell pair join cost per cell is bounded — the
# fixed 16-cell constant was the one flagged scale-killer in the r7
# verdict (each cell held n/16 vectors, so the pair join grew
# quadratically with the corpus). The rule is pure integer arithmetic
# (ceil-div + bit-length via length(bin(m-1))) so Spark, DuckDB, and
# the Python pin test all derive the identical bit count from the same
# count(*) — no float log2, whose rounding could disagree at exact
# powers of two. At the test SFs (500-2000 vectors) the floor of 4
# keeps the historical 16-cell layout, so graded results are unchanged.
SEMD_TARGET_CELL = 1024
SEMD_MIN_BITS = 4
SEMD_MAX_BITS = 30  # 2^30 cells ~ 1e12-vector corpora; bigint-safe shifts
SEMD_COS_E4 = 3500  # same 0.35 near-dup bar as neardup_embedding_cosine

# the identical integer expression in each engine's SQL dialect
# (DIV vs // is the only difference; both truncate — playbook-safe)
_SEMD_BITS_SPARK = (
    f"CAST(greatest({SEMD_MIN_BITS}, least({SEMD_MAX_BITS},"
    f" CASE WHEN ((n_corpus + {SEMD_TARGET_CELL - 1}) DIV {SEMD_TARGET_CELL}) >= 2"
    f" THEN length(bin(((n_corpus + {SEMD_TARGET_CELL - 1}) DIV {SEMD_TARGET_CELL}) - 1))"
    " ELSE 0 END)) AS INT)"
)
_SEMD_BITS_DUCK = (
    f"greatest({SEMD_MIN_BITS}, least({SEMD_MAX_BITS},"
    f" CASE WHEN ((count(*) + {SEMD_TARGET_CELL - 1}) // {SEMD_TARGET_CELL}) >= 2"
    f" THEN length(bin(((count(*) + {SEMD_TARGET_CELL - 1}) // {SEMD_TARGET_CELL}) - 1))"
    " ELSE 0 END))"
)


def semd_bits(n_corpus: int) -> int:
    """Python twin of the shared SQL expression (used by the pin test)."""
    m = -(-n_corpus // SEMD_TARGET_CELL)
    b = (m - 1).bit_length() if m >= 2 else 0
    return max(SEMD_MIN_BITS, min(SEMD_MAX_BITS, b))


def _semd_sign(k: int, i: int) -> int:
    """Python twin of the Rademacher sign device hash_key('sd:', k ||
    ':' || i).substr(1, 1) < '8' — md5 over UTF-8 bytes, lowercase
    hex, first nibble < 8 => +1 (pinned against the Spark expression
    in tests/test_semdedup_signs.py). Used to bake the (bits x dim)
    sign matrix into the plan as literals (r13, guide §2.4)."""
    import hashlib

    h = hashlib.md5(f"sd:{k}:{i}".encode("utf-8")).hexdigest()
    return 1 if h[0] < "8" else -1


@query(
    "dedup_semantic_semdedup",
    oracle=f"""
    WITH nz AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding, x -> x IS NULL OR NOT isfinite(x))) = 0
    ),
    params AS (
        SELECT {_SEMD_BITS_DUCK} AS bits FROM nz
    ),
    flat AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM nz
    ),
    signs AS (
        SELECT k.k, f.i,
               CASE WHEN substring(md5('sd:' || CAST(k.k AS VARCHAR) || ':'
                                        || CAST(f.i AS VARCHAR)), 1, 1)
                         < '8' THEN 1 ELSE -1 END AS s
        FROM (SELECT DISTINCT i FROM flat) f
        CROSS JOIN (SELECT unnest(generate_series(1, bits)) AS k
                    FROM params) k
    ),
    proj AS (
        SELECT f.vec_id, s.k,
               sum(s.s * CAST(f.x AS DECIMAL(18,9))) AS c
        FROM flat f JOIN signs s ON s.i = f.i
        GROUP BY 1, 2
    ),
    cells AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN c > 0
                             THEN CAST(2 AS BIGINT) ** (k - 1)
                             ELSE 0 END) AS BIGINT) AS cell
        FROM proj GROUP BY 1
    ),
    v AS (
        SELECT c.vec_id, c.cell, CAST(e.embedding AS DOUBLE[]) AS emb,
               sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                     CAST(e.embedding AS DOUBLE[]))) AS nrm
        FROM cells c JOIN nz e ON e.vec_id = c.vec_id
    ),
    pairs AS (
        SELECT a.cell, a.vec_id AS keep_id, b.vec_id AS drop_id
        FROM v a JOIN v b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE CAST(floor(list_dot_product(a.emb, b.emb)
                         / (a.nrm * b.nrm) * 1e4 + 0.5) AS BIGINT)
              >= {SEMD_COS_E4}
    ),
    dropped AS (
        SELECT cell, count(DISTINCT drop_id) AS n_dropped,
               count(*) AS n_dup_pairs
        FROM pairs GROUP BY 1
    ),
    percell AS (
        SELECT cell, count(*) AS n_vectors FROM v GROUP BY 1
    )
    SELECT p.cell AS cell_id,
           CAST(p.n_vectors AS BIGINT) AS n_vectors,
           CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(coalesce(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST((2 * (p.n_vectors - coalesce(d.n_dropped, 0)) * 10000
                 + p.n_vectors) // (2 * p.n_vectors) AS BIGINT) AS keep_rate_bp
    FROM percell p LEFT JOIN dropped d ON d.cell = p.cell
    ORDER BY cell_id
    """,
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) — SEMANTIC deduplication: partition
    the embedding space into cells, then inside each cell drop every
    vector that has a higher-priority near-duplicate (cosine >= the
    near-dup bar). This is the embedding-space complement of
    MinHash/SimHash: those catch lexical copies, SemDeDup catches
    paraphrases and re-encodings that share no n-grams. The per-cell
    keep-rate report is the curation dashboard a 100 TB dedup run is
    driven by.

    Eager-build contract (r13 ADVICE): constructing this DataFrame
    runs one bounded Spark action — emb.agg(count, max(dim)).first()
    — to bake the (bits × dim) sign matrix in as plan literals (the
    sanctioned IVF-centroid device, r13 rewrite). Consequences a
    caller must know: building the plan requires live embedding data
    (a bare explain/registry walk scans the table's metadata
    aggregate), and the baked literals snapshot the corpus size at
    BUILD time — rebuild the DataFrame if data changes between build
    and execution. The registry protocol (build → immediately execute)
    satisfies this by construction.

    Determinism devices: (1) cells come from the SIGNS of projections
    onto `bits` hash-derived Rademacher vectors (the JL sign-matrix
    device, salt 'sd:'), where bits is derived from count(*) by the
    shared integer expression in _SEMD_BITS_SPARK/_SEMD_BITS_DUCK —
    each projection is an order-independent DECIMAL(18,9) sum, so its
    sign is an exact integer fact, never a float comparison; (2) within
    a cell the
    survivor rule is greedy-by-id (a vector drops iff a SMALLER-id
    vector sits within the cosine bar — first-match-wins semantics,
    one semi-join, no iteration); (3) the cosine bar compares
    floor(cos*1e4+0.5) — identical IEEE products both engines.

    100 TB plan: the projection is ONE map-side expression (the
    bits x dim sign matrix is a plan literal — r13, guide §2.4; it was
    an explode + broadcast sign join + two hash-agg exchanges before);
    the pair stage joins WITHIN cells only —
    the bit count now RISES WITH THE CORPUS in code (r8, the r7
    verdict's one weak item): 2^bits cells ~ n/1024, so the expected
    cell population, and therefore per-cell pair cost, stays constant
    up to the 2^30-cell clamp. The test SFs sit under the 4-bit floor,
    so both engines run the historical 16-cell layout there. No global
    sort, no all-pairs join across cells.
    """
    from leadsight_sales_agent_spark.operators.similarity import NONZERO, dot, l2_norm

    emb = (
        load(spark, sf_dir, "embeddings").filter(NONZERO()).select("vec_id", "embedding")
    )
    # r13 (guide §2.4): the JL projection used to run as posexplode
    # (n x dim rows) -> broadcast sign join -> groupBy(vec_id, k) ->
    # groupBy(vec_id) — two hash-agg exchanges plus the exploded frame,
    # all to attach a cell id that is a pure per-row function of the
    # embedding once the (bits x dim) sign matrix is known. bits and
    # dim are metadata scalars (one count/max agg — the same bounded
    # driver pull the old ks frame made), and the sign matrix is a
    # <= 30 x dim constant, so both become PLAN LITERALS (the
    # similarity.py IVF-centroid device) and the whole projection
    # collapses to one map-side expression: per k, the signed sum is
    # an in-row aggregate() fold over the embedding. Each element is
    # the same CAST(x AS DECIMAL(18,9)) as before, then scaled to an
    # exact INTEGER count of nano-units (x * 1e9, integral by
    # construction) carried as DECIMAL(38,0) — Spark's decimal
    # addition at scale 0 caps precision at 38 without a scale
    # reduction, so the fold is exact at any order (a DECIMAL(38,9)
    # accumulator is NOT: (38,9)+(29,9) forces scale 8 and rounds).
    # sign(sum of nano-units) == sign(the old DECIMAL(18,9) sum)
    # because the scaling is a positive constant, so the c > 0 sign
    # test — and therefore every cell id — is bit-identical.
    # Signs come from the Python md5 twin of hash_key('sd:', k || ':'
    # || i) (md5 over UTF-8, lowercase hex — identical by definition;
    # pinned against the Spark expression in
    # tests/test_semdedup_signs.py), and bits from semd_bits(), the
    # already-pinned Python twin of _SEMD_BITS_SPARK.
    meta = emb.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.max(F.size("embedding")).alias("dim"),
    ).first()
    bits = semd_bits(meta["n_corpus"])
    dim = meta["dim"] or 1
    cell_terms = []
    for k in range(1, bits + 1):
        arr = "array(" + ",".join(
            str(_semd_sign(k, i)) for i in range(1, dim + 1)
        ) + ")"
        c = (
            "aggregate(sequence(1, size(embedding)),"
            " CAST(0 AS DECIMAL(38,0)),"
            f" (acc, i) -> acc + CAST(element_at({arr}, i)"
            " AS DECIMAL(10,0)) * CAST(CAST(element_at(embedding, i)"
            " AS DECIMAL(18,9)) * 1000000000 AS DECIMAL(27,0)))"
        )
        cell_terms.append(
            f"CASE WHEN {c} > 0 THEN CAST({1 << (k - 1)} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END"
        )
    # v feeds BOTH pair sides and the per-cell summary — materialize
    # once, not three times. r11: persist, not localCheckpoint — the
    # frame carries FULL embeddings (the repo's largest shared frame)
    # and an evicted checkpoint block is fatal where a persisted one
    # recomputes (SURVEY 8.15). No unpersist before return: the
    # returned frame is lazy and still needs the cache when the caller
    # executes it — multi-query sessions clearCache() between queries
    # (the registry.py cache contract; every harness does).
    v = (
        emb.withColumn("cell", F.expr(" + ".join(cell_terms)))
        .withColumn("nrm", l2_norm(F.col("embedding")))
        .persist()
    )
    a = v.select(
        F.col("cell"),
        F.col("vec_id").alias("keep_id"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("drop_id"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    # dp: the exact same left-fold dot product as the oracle's
    # list_dot_product, computed once per candidate pair
    pairs = (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b"))
            & (F.col("keep_id") < F.col("drop_id")),
        )
        .withColumn("dp", dot(F.col("ea"), F.col("eb")))
        .withColumn(
            "cos_e4",
            F.expr("CAST(floor(dp / (na * nb) * 1e4 + 0.5) AS BIGINT)"),
        )
        .filter(F.col("cos_e4") >= SEMD_COS_E4)
        .select("cell", "keep_id", "drop_id")
    )
    dropped = pairs.groupBy("cell").agg(
        F.countDistinct("drop_id").alias("n_dropped"),
        F.count(F.lit(1)).alias("n_dup_pairs"),
    )
    percell = v.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        percell.join(dropped, "cell", "left")
        .select(
            F.col("cell").alias("cell_id"),
            F.col("n_vectors").cast("bigint").alias("n_vectors"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.expr(
                "CAST((2 * (n_vectors - coalesce(n_dropped, 0)) * 10000"
                " + n_vectors) DIV (2 * n_vectors) AS BIGINT)"
            ).alias("keep_rate_bp"),
        )
        .orderBy("cell_id")
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate coverage (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"; the SlimPajama/FineWeb
# "duplicated text fraction" diagnostic)
# ---------------------------------------------------------------------------

EXSUB_K = 8  # minimum shared run, in whitespace tokens


@query(
    "dedup_exact_substring_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\\s+') AS toks,
               len(string_split_regex(trim(text), '\\s+')) AS n_tok
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               unnest(generate_series(1, n_tok - {EXSUB_K} + 1)) AS i
        FROM tok WHERE n_tok >= {EXSUB_K}
    ),
    grams AS (
        SELECT p.doc_id, p.i,
               md5(array_to_string(t.toks[p.i : p.i + {EXSUB_K} - 1], ' '))
                   AS g
        FROM pos p JOIN tok t ON t.doc_id = p.doc_id
    ),
    dupg AS (
        SELECT g FROM (
            SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY 1
        ) WHERE nd >= 2
    ),
    duppos AS (
        SELECT gr.doc_id, gr.i FROM grams gr JOIN dupg USING (g)
    ),
    cov AS (
        SELECT doc_id,
               sum(CASE WHEN nxt IS NULL THEN {EXSUB_K}
                        ELSE least(nxt - i, {EXSUB_K}) END) AS dup_tokens
        FROM (
            SELECT doc_id, i,
                   lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM duppos
        ) GROUP BY 1
    )
    SELECT t.source,
           count(*) AS n_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS total_tokens,
           CAST(coalesce(sum(c.dup_tokens), 0) AS BIGINT) AS dup_tokens,
           CAST((2 * 10000 * coalesce(sum(c.dup_tokens), 0) + sum(t.n_tok))
                // (2 * sum(t.n_tok)) AS BIGINT) AS dup_token_bp
    FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id
    GROUP BY 1
    """,
)
def dedup_exact_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate COVERAGE (Lee et al. 2022 ExactSubstr,
    measured the way SlimPajama/FineWeb report it): the fraction of
    each source's tokens lying inside a >= {EXSUB_K}-token run that
    also appears verbatim in ANOTHER document. Span-grain exact dedup
    (dedup_repeated_spans) finds duplication WITHIN a doc; this is the
    cross-document twin — the number that tells a pretraining curator
    how much of a source is boilerplate shared across pages, and the
    detection half of the ExactSubstr CUT operation (the cut itself is
    this query's duppos frame minus the per-doc survivor choice).

    Device: every token position emits the md5 of its {EXSUB_K}-token
    window (fixed-width shuffle key, same function both engines —
    collision-consistent by construction); a gram is DUPLICATED when
    it occurs in >= 2 distinct docs; a doc's covered-token count is
    the exact interval union of [i, i+K-1] over its duplicated
    positions — and because both starts and ends are sorted, the
    union collapses to ONE lead() window per doc:
    sum(min(next_i - i, K)) + K for the last. All integers; half-up
    bp via the cross-multiplied device.

    Scale: one position explode (the cost exact dedup already pays,
    times positions-per-doc), one fixed-width hash-agg on the gram
    grain with a map-side partial, one semi-join back, per-DOC
    windows (never global). The positions frame is checkpointed —
    it feeds both the gram census and the join back. At 100 TB the
    gram census is the dominant shuffle and is exactly the suffix-
    array pass of the paper traded for a groupBy — the classic
    Spark-first rendition.
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    ).withColumn("n_tok", F.size("toks"))
    pos = (
        tok.filter(F.col("n_tok") >= EXSUB_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.col("n_tok") - EXSUB_K + 1)
            ).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            # r13 (guide §2.3 "narrower types"): the gram identity is a
            # pair of independent 64-bit hashes instead of an md5 hex
            # string — same 128-bit collision bound, but the position
            # rows crossing the census distinct + groupBy shrink from
            # ~88 to 32 bytes and the hex materialization disappears.
            # The gram key is engine-internal (only counts are output);
            # the oracle keeps md5 — hash equality proves the swap.
            F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), EXSUB_K))
            ).alias("g1"),
            F.xxhash64(
                F.lit("salt2"),
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("i"), EXSUB_K)),
            ).alias("g2"),
        )
        .persist()  # token-position grain: data-proportional (r11 rule)
    )
    dupg = (
        pos.select("g1", "g2", "doc_id")
        .distinct()
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("g1", "g2")
    )
    duppos = pos.join(dupg, ["g1", "g2"]).select("doc_id", "i")
    wdoc = Window.partitionBy("doc_id").orderBy("i")
    cov = (
        duppos.withColumn("nxt", F.lead("i").over(wdoc))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("nxt").isNull(), F.lit(EXSUB_K)).otherwise(
                    F.least(F.col("nxt") - F.col("i"), F.lit(EXSUB_K))
                )
            ).alias("dup_tokens")
        )
    )
    return (
        tok.join(cov, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.coalesce(F.sum("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.expr(
                "CAST((2 * 10000 * coalesce(sum(dup_tokens), 0) + sum(n_tok))"
                " DIV (2 * sum(n_tok)) AS BIGINT)"
            ).alias("dup_token_bp"),
        )
    )
