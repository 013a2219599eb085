"""Refactor parity: prove a change moves no plan, no row and no oracle.

A refactor that folds copied query stages onto shared helpers claims no
speed change; it proves that by byte-identical plans instead of a
per-query A/B. Snapshot the parent's checkout and the change's checkout
with this same tool, one after the other, then diff the two snapshots:

    python tools/plan_parity.py snapshot PARENT_DIR SF_DIR parent.json [query ...]
    python tools/plan_parity.py snapshot CHANGE_DIR SF_DIR change.json [query ...]
    python tools/plan_parity.py diff parent.json change.json

`snapshot` imports the package from REPO_DIR (not from this tool's
checkout), builds every registered query (or the named ones, in the
order given) on SF_DIR, and writes per query the ``formatted`` physical
plan, taken before the query runs, with per-session counters masked
(``#n``, ``plan_id=``, ``RDD[n]``, ``x_n``), and the sha256 of its sorted
collected rows, plus the sha256 of
``json.dumps(registry.ORACLES, sort_keys=True)`` under ``__oracles__``.

`diff` prints one line per key whose value differs or that only one
snapshot holds, then a summary line; it exits 1 on any difference and
0 when the snapshots are equal.

Run the same query list in the same order in both trees: some plan text
is numbered per session (``_common_expr_N``, lambda variables such as
``y_N``, the RDD call site of a ``localCheckpoint``), so a subset run
only matches a subset run of the parent, never the full sweep. Three
queries print their grouping-set ``Expand`` columns in an order that
changes between rebuilds in one session (``chi_square_priority_status``,
``eval_effect_size_contingency``, ``profile_table_columns``), so their
plans can differ even between two runs of the same tree.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

MASK = [
    (r"#\d+", "#n"),
    (r"plan_id=\d+", "plan_id=n"),
    (r"RDD\[\d+\]", "RDD[n]"),
    (r"\bx_\d+", "x_n"),
]


def mask(plan: str) -> str:
    for pat, rep in MASK:
        plan = re.sub(pat, rep, plan)
    return plan


def snapshot(repo: str, sf: str, out: str, names: list[str]) -> None:
    repo, sf, out = os.path.abspath(repo), os.path.abspath(sf), os.path.abspath(out)
    os.chdir(repo)
    sys.path.insert(0, repo)
    from leadsight_sales_agent_spark import registry
    from leadsight_sales_agent_spark.plans import formatted_plan
    from leadsight_sales_agent_spark.session import get_spark

    registry.load_all()
    spark = get_spark("plan-parity")
    oracles = json.dumps(registry.ORACLES, sort_keys=True).encode()
    res = {"__oracles__": hashlib.sha256(oracles).hexdigest()}
    for n in names or list(registry.QUERIES):
        df = registry.QUERIES[n](spark, sf)
        # the plan before execution: AQE's final plan numbers its stages
        # and codegen ids in the order they happen to run
        plan = mask(formatted_plan(df))
        rows = sorted(repr(tuple(r)) for r in df.collect())
        res[n] = {"plan": plan, "rows": hashlib.sha256("\n".join(rows).encode()).hexdigest()}
        spark.catalog.clearCache()
    with open(out, "w") as f:
        json.dump(res, f)
    print(f"{len(res) - 1} queries snapshotted to {out}")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    n_diff = 0
    for k in sorted(set(a) | set(b)):
        if k not in a or k not in b:
            print(f"{k}: only in {a_path if k in a else b_path}")
        elif a[k] != b[k]:
            what = [f for f in ("plan", "rows") if a[k][f] != b[k][f]] if k != "__oracles__" else ["hash"]
            print(f"{k}: {' and '.join(what)} {'differ' if len(what) > 1 else 'differs'}")
        else:
            continue
        n_diff += 1
    print(f"{len(set(a) | set(b))} keys compared, {n_diff} differ")
    return 1 if n_diff else 0


def main() -> None:
    args = sys.argv[1:]
    if len(args) >= 4 and args[0] == "snapshot":
        snapshot(args[1], args[2], args[3], args[4:])
    elif len(args) == 3 and args[0] == "diff":
        sys.exit(diff(args[1], args[2]))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
