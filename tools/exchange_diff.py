"""Diff per-query Exchange counts, and build-job counts, between two
PLAN_LINT.json snapshots.

PLAN_LINT.json commits `exchange_counts` (since r9) precisely so plan
growth is caught the round it happens — R4 only fires once a plan
exceeds its cap + 8, and the r8 ad-hoc scan showed plans can drift
INSIDE that grace window for several rounds. Run this at round start
against the previous round's committed snapshot:

    git show HEAD~1:PLAN_LINT.json > /tmp/prev_plan_lint.json   # or any ref
    python tools/exchange_diff.py /tmp/prev_plan_lint.json [PLAN_LINT.json]

Exit 0 always (informational); prints one line per grown/shrunk/new/
gone query, biggest growth first. A grown count is not automatically a
finding — but it is the question to answer before the lint's grace
window silently absorbs it. Then one `build_jobs` line per query whose
count of jobs fired while its DataFrame is built (plan_lint R10)
changed, appeared or went away.
"""

from __future__ import annotations

import json
import sys


def diff_build_jobs(prev: dict | None, cur: dict) -> None:
    """One line per query whose build-job count changed, appeared or
    went away; one note line if the previous snapshot has no map."""
    if prev is None:
        print("build_jobs: previous snapshot has no build_jobs map")
        return
    for n in sorted(set(prev) | set(cur)):
        a, b = prev.get(n), cur.get(n)
        if a != b:
            print(f"build_jobs {n}: {a} -> {b}")


def main() -> None:
    if len(sys.argv) < 2:
        print(__doc__)
        sys.exit(2)
    prev_path = sys.argv[1]
    cur_path = sys.argv[2] if len(sys.argv) > 2 else "PLAN_LINT.json"
    with open(prev_path) as f:
        prev_lint = json.load(f)
    with open(cur_path) as f:
        cur_lint = json.load(f)
    prev = prev_lint.get("exchange_counts", {})
    cur = cur_lint.get("exchange_counts", {})
    if not prev:
        print(f"{prev_path}: no exchange_counts (pre-r9 snapshot?) — nothing to diff")
        return
    grown = sorted(
        ((cur[n] - prev[n], n) for n in cur if n in prev and cur[n] != prev[n]),
        reverse=True,
    )
    for delta, n in grown:
        tag = "GREW" if delta > 0 else "shrank"
        print(f"{tag:6s} {n}: {prev[n]} -> {cur[n]} ({delta:+d})")
    for n in sorted(set(cur) - set(prev)):
        print(f"new    {n}: {cur[n]}")
    for n in sorted(set(prev) - set(cur)):
        print(f"gone   {n} (was {prev[n]})")
    diff_build_jobs(prev_lint.get("build_jobs"), cur_lint.get("build_jobs", {}))
    n_grew = sum(1 for d, _ in grown if d > 0)
    print(
        json.dumps(
            {
                "compared": len(set(cur) & set(prev)),
                "grew": n_grew,
                "shrank": len(grown) - n_grew,
                "new": len(set(cur) - set(prev)),
                "gone": len(set(prev) - set(cur)),
            }
        )
    )


if __name__ == "__main__":
    main()
