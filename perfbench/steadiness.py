"""Run the benchmark over several seeds and summarise each end-to-end
metric per workload: median, quartiles and spread (inter-quartile
distance over the median, from ``statistics.quantiles(values, n=4)``).

    python3 perfbench/steadiness.py --seeds 1-10 --out set1.json [--workloads a,b]

Run from a checkout root. Each run is a separate process, one after the
other; a run that fails or prints no result is reported and skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    for w in args.workloads.split(","):
        runs, walls, details = [], [], []
        for seed in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                capture_output=True, text=True,
            )
            walls.append(time.monotonic() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                continue
            runs.append(json.loads(lines[-1]))
            details.append(json.loads(lines[-2])["detail"] if len(lines) > 1 else None)
            print(f"{w} seed {seed}: {walls[-1]:.1f} s, correct={runs[-1]['correct']}", flush=True)
        metrics = {
            name: summarise([r["metrics"][name]["value"] for r in runs])
            for name in bounds
        }
        report["workloads"][w] = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "wall_s": summarise(walls),
            "metrics": metrics,
            "details": details,
        }
        for name, m in metrics.items():
            flag = "" if m["spread"] < bounds[name] / 3 else "  <-- spread >= bound/3"
            print(f"  {w:16s} {name:20s} median {m['median']:.4g}  q1 {m['q1']:.4g}  "
                  f"q3 {m['q3']:.4g}  spread {m['spread']:.3f}{flag}")
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
