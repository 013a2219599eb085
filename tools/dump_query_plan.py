"""Dump the formatted physical plan of named registered queries.

Usage: python tools/dump_query_plan.py [--sf DIR] [--out-dir DIR]
           [--suffix SUF] query [query ...]

Writes <out-dir>/<query><suffix>.txt with `.explain("formatted")`
output — the per-query evidence files an optimization round commits
under plans/r<N>/ (the judge cannot run Spark and checks plan claims
against these dumps). Unlike tools/dump_plans.py (the whole bench
headline set into PLANS.md), this targets an arbitrary subset.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, ".")

from leadsight_sales_agent_spark import registry  # noqa: E402
from leadsight_sales_agent_spark.plans import formatted_plan  # noqa: E402
from leadsight_sales_agent_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out-dir", default="plans/r14")
    ap.add_argument("--suffix", default="")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("plan-dump-one")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out_dir, exist_ok=True)
    for name in args.queries:
        plan = formatted_plan(registry.QUERIES[name](spark, args.sf))
        path = os.path.join(args.out_dir, f"{name}{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange tokens)")
    spark.stop()


if __name__ == "__main__":
    main()
