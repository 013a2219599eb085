"""The engine's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload serve_upload --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout; it imports the engine from there and
reads and writes only below it (``.perfbench_work/``, removed at exit).
The workloads are described in ``perfbench/DESIGN.md`` and
``workloads.py``.

A run generates its inputs from the seed, then sets up once, cold, and
times it as ``setup_s``: ``get_spark`` (which launches the JVM),
``registry.load_all()``, a one-row canary job, the workload's
``prepare()`` and its checked warm-up operations. It then runs the
workload's untimed output checks, runs operations in a closed loop until
``--seconds`` have passed, and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` every second operation of the timed loop is traced (spans,
job groups, status-store reads), the metrics are the per-layer ones,
including the tracing overhead, and the spans are written to
``.perfbench_work/perfbench_spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

PKG = "leadsight_sales_agent_spark"
CANARY_REPS = 5
WORK_DIR = ".perfbench_work"
SPANS_FILE = "perfbench_spans.jsonl"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "first_result_p50_s": "s",
}

LAYERS = ("catalog", "excel", "enrich", "serve", "registry", "operators")


def per_layer_units() -> dict[str, str]:
    from workloads import PANEL

    units = {
        "peak_rss_mb": "MB",
        "proc.cpu_s": "s",
        "trace.overhead_s": "s",
        "spark.job_overhead_s": "s",
        "spark.persisted_rdds": "count",
        "catalog.load_s": "s",
        "catalog.load_jobs": "count",
        "excel.read_s": "s",
        "excel.write_s": "s",
        "enrich.build_s": "s",
        "enrich.exec_s": "s",
        "enrich.executor_run_s": "s",
        "enrich.build_jobs": "count",
        "enrich.jobs": "count",
        "enrich.stages": "count",
        "enrich.shuffle_write_bytes": "bytes",
        "enrich.python_nodes": "count",
        "enrich.llm_ok_frac": "ratio",
        "enrich.founded_order_rows": "count",
        "serve.upload_accept_s": "s",
        "serve.sse_lag_p50_s": "s",
        "serve.events": "count",
        "serve.results_s": "s",
        "serve.download_s": "s",
        "serve.enrich_s": "s",
        "analytics.build_s": "s",
        "analytics.build_jobs": "count",
        "analytics.exec_s": "s",
    }
    for q in PANEL:
        units[f"q.{q}.build_s"] = "s"
        units[f"q.{q}.build_jobs"] = "count"
        units[f"q.{q}.exec_s"] = "s"
        units[f"q.{q}.exec_jobs"] = "count"
        units[f"q.{q}.shuffle_write_bytes"] = "bytes"
    for layer in LAYERS:
        units[f"self.{layer}_s"] = "s"
    return units


def tail(samples: list[float]) -> dict | None:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, or None when there are too few samples."""
    n = len(samples)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
            return {"percentile": p, "samples": n, "value": q}
    return None


def _setup_env(root: str, work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    if root not in sys.path:
        sys.path.insert(0, root)
    return cpus


def _stop_spark() -> None:
    """Stop the Spark context, if one started, then the JVM the gateway
    launched, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _wait_children(timeout: float = 30.0) -> None:
    from tracing import descendants

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def tally(checked: int, check_failed: int, ops: list) -> tuple[int, int]:
    """(attempted, failed). Every check and every operation is one
    attempt; an operation fails when it raised (``None``) or a check of
    its output found a problem."""
    failed = check_failed + sum(o is None or bool(o.problems) for o in ops)
    return checked + len(ops), failed


def end_to_end(setup_s: float, ops: list) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(o.seconds for o in ops),
        "first_result_p50_s": statistics.median(o.first_result_s for o in ops),
    }


def per_layer(w, tracer, ops: list, traced_ops: list, canary: list, peak_mb: float) -> dict:
    """Per-layer values; a layer the workload does not call reads 0.
    ``ops`` and ``traced_ops`` alternate in one loop, so the tracing
    overhead is not biased by drift over the run."""
    from tracing import self_times

    units = per_layer_units()
    values = {k: 0.0 for k in units}
    values["peak_rss_mb"] = peak_mb
    values["proc.cpu_s"] = statistics.median(o.cpu_s for o in ops)
    values["trace.overhead_s"] = statistics.median(o.seconds for o in traced_ops) - (
        statistics.median(o.seconds for o in ops)
    )
    values["spark.job_overhead_s"] = statistics.median(canary)
    values.update({k: statistics.median(xs) for k, xs in w.layer.items() if k in units})
    values.update(w.layer_metrics())
    for layer, s in self_times(tracer.spans).items():
        if f"self.{layer}_s" in units:
            values[f"self.{layer}_s"] = s / len(traced_ops)
    return {k: values[k] for k in units}


def run(workload: str, seed: int, seconds: float, trace_on: bool, root: str) -> dict:
    work = os.path.join(root, WORK_DIR, f"{workload}-{seed}-{os.getpid()}")
    cpus = _setup_env(root, work)

    from tracing import RssSampler, SparkStats, Tracer, cpu_ticks, steal_share, tree_cpu_s
    from workloads import WORKLOADS, Ctx

    from leadsight_sales_agent_spark import registry
    from leadsight_sales_agent_spark.session import get_spark

    tracer = Tracer(enabled=False)
    ctx = Ctx(seed=seed, work=work, tracer=tracer, trace=trace_on)
    w = WORKLOADS[workload](ctx)
    detail: dict = {"workload": workload, "seed": seed, "cpus": cpus}
    errors: list[str] = []
    stats = None

    def one_op(phase: str, traced: bool):
        tracer.enabled = traced
        ctx.stats = stats if traced else None
        cpu0, ticks0 = tree_cpu_s(), cpu_ticks()
        with w.traced() if traced else nullcontext(), tracer.span(f"bench.{phase}") as sid:
            try:
                op = w.op(sid)
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, not fatal
                op = None
                errors.append(f"{phase}: {type(ex).__name__}: {ex}")
        tracer.enabled, ctx.stats = False, None
        if op is not None:
            op.cpu_s, op.steal = tree_cpu_s() - cpu0, steal_share(ticks0, cpu_ticks())
        return op

    def loop(phase: str, seconds: float = 0.0, count: int = 0, alternate: bool = False):
        """Operations back to back until ``seconds`` have passed, or
        ``count`` of them; with ``alternate``, every second one traced.
        Returns the untraced and the traced operations."""
        ops, traced, t_end = [], [], time.perf_counter() + seconds
        failed_in_a_row = 0
        while time.perf_counter() < t_end or len(ops) + len(traced) < count:
            on = alternate and len(ops) > len(traced)
            op = one_op(phase, on)
            (traced if on else ops).append(op)
            failed_in_a_row = failed_in_a_row + 1 if op is None else 0
            if failed_in_a_row == 3:
                break
        return ops, traced

    try:
        with RssSampler() as rss:
            w.inputs()
            t0 = time.perf_counter()
            ctx.spark = get_spark("perfbench", cpus=cpus)
            registry.load_all()
            ctx.spark.range(1).count()
            w.prepare()
            warm, _ = loop("warmup", count=w.warmup_ops)
            setup_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            checked, check_failed, problems = w.verify()
            detail["verify_s"] = time.perf_counter() - t0

            if trace_on:
                stats = SparkStats(ctx.spark)
            ticks = cpu_ticks()
            ops, traced_ops = loop("op", seconds, count=2 * trace_on, alternate=trace_on)
            detail["cpu_steal_frac"] = steal_share(ticks, cpu_ticks())
            canary = []
            if trace_on:
                for _ in range(CANARY_REPS):
                    t0 = time.perf_counter()
                    ctx.spark.range(1).count()
                    canary.append(time.perf_counter() - t0)
    finally:
        try:
            w.release()
        finally:
            try:
                _stop_spark()
            finally:
                # also when stopping failed: a stray JVM or worker is killed here
                _wait_children()
                if trace_on and tracer.spans:
                    tracer.write(os.path.join(root, WORK_DIR, SPANS_FILE))
                shutil.rmtree(work, ignore_errors=True)

    attempted, failed = tally(checked, check_failed, warm + ops + traced_ops)
    good = [o for o in ops if o is not None]
    traced_good = [o for o in traced_ops if o is not None]
    problems += errors + [p for o in warm + ops + traced_ops if o is not None for p in o.problems]
    detail.update(
        setup_s=setup_s, warmup_samples=[o.seconds for o in warm if o is not None],
        ops=len(ops), traced_ops=len(traced_ops), checked=checked,
        failed_frac=failed / attempted,
        op_samples=[o.seconds for o in good], op_cpu_s=[o.cpu_s for o in good],
        op_steal=[o.steal for o in good],
        traced_op_samples=[o.seconds for o in traced_good],
        items_per_s=sum(o.items for o in good) / sum(o.seconds for o in good) if good else None,
        op_tail=tail([o.seconds for o in good]),
        first_result_tail=tail([o.first_result_s for o in good]),
        peak_rss_mb=rss.peak_mb, problems=problems[:20],
    )
    if trace_on:
        units = per_layer_units()
        values = per_layer(w, tracer, good, traced_good, canary, rss.peak_mb)
    else:
        units, values = END_TO_END, end_to_end(setup_s, good)
    print(json.dumps({"detail": detail}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: no {PKG}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
