"""Scale probe for the headline top-5 (r8 verdict task 6).

The bench measures sf0.01 -> sf0.1 (10x) scaling; this harness pushes
one more decade: it materializes a ~REPx replicated copy of the sf0.1
FACT tables to parquet (dims stay fixed — that is how real warehouses
grow) and re-runs the five most expensive headline queries VERBATIM
against the replicated directory, reporting wall-clock ratios. Each
query is timed through bench.py's own core (`_run_once`: noop write
then clearCache; `_median`), so the probe runs the plan the bench runs.

Replication is id-shifted so keys stay unique (doc_id/vec_id/event_id/
orderkey + replica * OFFSET); document text gets a per-replica suffix
token so replicas are near-dups rather than byte-dups (exact-dedup
stages would otherwise collapse the corpus and measure nothing).
Embedding vectors are reused as-is — for SemDeDup that makes replicas
dense near-duplicates, i.e. a HEAVIER-than-linear duplicate workload,
so its ratio is an upper bound.

Run:  python tools/scale_probe.py [rep] [sf_dir] [only,csv]
      (defaults: rep=10, sf_dir=/root/testdata/sf0.1, all 5 queries;
       the sf0.1 documents table is only ~5k rows, so the DOC-bound
       queries need rep~50 before data outweighs fixed task overhead)
Prints one JSON line; numbers recorded in SURVEY.md §8.13.
"""

from __future__ import annotations

import gc
import json
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402 — repo-root module, needs sys.path above
from leadsight_sales_agent_spark import registry  # noqa: E402
from leadsight_sales_agent_spark.session import get_spark  # noqa: E402
from leadsight_sales_agent_spark.sources.catalog import TABLES, load  # noqa: E402

REP = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
OUT_DIR = f".tmp/scale_probe_rep{REP}"  # repo-local scratch (gitignored)
ID_OFFSET = 1 << 33  # far above any sf0.1 key

HEADLINE5 = [
    "dedup_semantic_semdedup",
    "leakage_minhash_cross_split",
    "leadsight_enrich_pipeline",
    "pipeline_full_release",
    "market_basket_apriori_triples",
]

# fact table -> columns to id-shift per replica
SHIFT = {
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey"],
}


def build(spark) -> None:
    if os.path.exists(OUT_DIR):
        shutil.rmtree(OUT_DIR)
    os.makedirs(OUT_DIR)
    for name in TABLES:
        df = load(spark, SF_DIR, name)
        if name in SHIFT:
            df = df.withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(REP - 1)))
            )
            for c in SHIFT[name]:
                df = df.withColumn(
                    c, F.col(c) + F.col("_rep").cast("long") * ID_OFFSET
                )
            if name == "documents":
                # replicas become near-dups, not byte-dups
                df = df.withColumn(
                    "text",
                    F.when(
                        F.col("_rep") == 0, F.col("text")
                    ).otherwise(
                        F.concat(
                            F.col("text"),
                            F.lit(" rv"),
                            F.col("_rep").cast("string"),
                        )
                    ),
                )
            df = df.drop("_rep")
        # single parquet dir per table, name matched to the loader
        df.repartition(8).write.mode("overwrite").parquet(
            f"{OUT_DIR}/{name}.parquet"
        )


def time_query(spark, name: str, sf_dir: str, runs: int = 2) -> float:
    # one untimed warm-up (scan caches, JIT, shuffle services) — the
    # r9 10x run showed cold first legs deflating ratios to <1
    bench._run_once(spark, name, sf_dir)
    xs = [bench._run_once(spark, name, sf_dir) for _ in range(runs)]
    # localCheckpoint blocks are freed only when their DataFrames are
    # garbage-collected Python-side; without this, multi-query rep50
    # sessions accumulate checkpoint RDDs until the 8g executor pool
    # throws AGGREGATE_OUT_OF_MEMORY (observed r10: dsir+doremi
    # back-to-back at rep50).
    gc.collect()
    return bench._median(xs)


def main() -> None:
    registry.load_all()
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.monotonic()
    build(spark)
    build_s = time.monotonic() - t0
    out = {"rep": REP, "sf_dir": SF_DIR, "build_sec": round(build_s, 1)}
    ratios = {}
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else HEADLINE5
    for name in only:
        base = time_query(spark, name, SF_DIR)
        big = time_query(spark, name, OUT_DIR)
        ratios[name] = {
            "sf01_sec": round(base, 2),
            f"rep{REP}_sec": round(big, 2),
            "ratio": round(big / base, 2),
        }
        print(json.dumps({name: ratios[name]}), flush=True)
    out["queries"] = ratios
    print(json.dumps(out, separators=(",", ":")), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
