"""Time individual registered queries through the noop sink (guide §1.4).

Usage: python tools/time_queries.py [--sf DIR] [--reps N] query [query ...]

Same methodology as bench.py, through bench.py's own timing core
(`_run_once`: noop write then clearCache; `_median`): a warm-up pass at
the sf0.001 directory beside --sf, then REPS timed runs of each query — the isolate-one-query
loop of an optimization round without paying for the whole headline
suite.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")

import bench  # noqa: E402 — repo-root module, needs sys.path above
from leadsight_sales_agent_spark import registry  # noqa: E402
from leadsight_sales_agent_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (codegen + Python worker spawn) at the tiny SF
    warm_dir = os.path.join(os.path.dirname(os.path.normpath(args.sf)), "sf0.001")
    for name in args.queries:
        bench._run_once(spark, name, warm_dir)

    samples: dict[str, list[float]] = {n: [] for n in args.queries}
    for _ in range(args.reps):
        for name in args.queries:
            spark.sparkContext.setJobDescription(f"time: {name}")
            samples[name].append(bench._run_once(spark, name, args.sf))
    for name, xs in samples.items():
        print(
            f"{name}: median {bench._median(xs):.3f}s"
            f"  samples {[round(x, 3) for x in xs]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
