"""Dump formatted physical plans of the bench headline queries.

Writes PLANS.md at the repo root: for each headline query, the
`.explain("formatted")` output at sf0.001 plus a one-line scorecard
(pushed filters present, broadcast vs sort-merge joins, cartesian,
WindowGroupLimit, exchanges) — the plan-quality evidence the 100 TB
design contract rests on, inspectable without starting Spark. Run:

    python tools/dump_plans.py [out.md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

from leadsight_sales_agent_spark import registry  # noqa: E402
from leadsight_sales_agent_spark.plans import formatted_plan  # noqa: E402
from leadsight_sales_agent_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLANS.md"
    import bench  # noqa: PLC0415 — repo-root module, needs sys.path above

    registry.load_all()
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sections = []
    for name in bench.HEADLINE:
        plan = formatted_plan(registry.QUERIES[name](spark, SF_DIR))
        pushed = re.findall(r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]", plan)

        def nodes(op: str) -> int:
            # each physical node appears exactly once as a detail
            # header "(n) OperatorName" in the formatted output
            return len(re.findall(rf"^\(\d+\) {op}\b", plan, re.M))

        score = (
            f"pushed-filter scans: {len(pushed)} · "
            f"BroadcastHashJoin nodes: {nodes('BroadcastHashJoin')} · "
            f"SortMergeJoin nodes: {nodes('SortMergeJoin')} · "
            f"CartesianProduct: {nodes('CartesianProduct')} · "
            f"WindowGroupLimit: {nodes('WindowGroupLimit')} · "
            f"Exchange nodes: {nodes('Exchange') + nodes('BroadcastExchange')}"
        )
        sections.append(
            f"## {name}\n\n{score}\n\n```\n{plan.strip()}\n```\n"
        )
    header = (
        "# PLANS — formatted physical plans of the bench headline suite\n\n"
        f"Generated by `python tools/dump_plans.py` at {SF_DIR} "
        "(plan SHAPE is scale-invariant; AQE may re-plan sizes at runtime).\n"
        "Scorecard lines count operator occurrences in the formatted tree.\n\n"
    )
    with open(out_path, "w") as f:
        f.write(header + "\n".join(sections))
    print(f"wrote {out_path} ({os.path.getsize(out_path)} bytes, "
          f"{len(sections)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
