"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one has completed.

A workload object is driven by ``run.py`` in this order: ``inputs()``
(untimed), then, timed as set-up on a cold Spark session, ``prepare()``
and ``warmup_ops`` calls of ``op()``; then ``verify()`` (untimed checks
beyond the ones every operation makes), then ``op()`` in the timed loop,
then ``release()``.
"""

from __future__ import annotations

import http.client
import io
import json
import os
import re
import statistics
import sys
import time
import zipfile
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import checks
import datagen
from tracing import SparkStats

PKG = "leadsight_sales_agent_spark"


@dataclass
class Op:
    seconds: float
    items: int
    first_result_s: float
    problems: list[str] = field(default_factory=list)
    cpu_s: float = 0.0  # CPU seconds of the whole process tree
    steal: float = 0.0  # share of the machine's CPU time stolen meanwhile


@dataclass
class Ctx:
    seed: int
    work: str
    tracer: object  # tracing.Tracer
    trace: bool = False
    stats: object | None = None  # tracing.SparkStats in the traced phase
    spark: object | None = None

    def group(self, label: str):
        """A Spark job group around a layer call when tracing."""
        return self.stats.group(label) if self.stats else nullcontext(None)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    name = ""
    # operations at the end of set-up: the first one on a session starts
    # the Python workers, and the JVM keeps compiling hot paths for tens
    # of seconds; without them the first timed operations ran 20-50%
    # slower than the later ones
    warmup_ops = 0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.layer: dict[str, list[float]] = {}

    def record(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def inputs(self) -> None: ...
    def prepare(self) -> None: ...
    def release(self) -> None: ...

    def verify(self) -> tuple[int, int, list[str]]:
        """(checks made, checks failed, problems)"""
        return 0, 0, []

    def op(self, op_span: int | None) -> Op:
        raise NotImplementedError

    @contextmanager
    def traced(self):
        """Extra layer spans, by wrapping engine functions, for the
        traced phase only."""
        yield

    def layer_metrics(self) -> dict[str, float]:
        return {}


def python_nodes(df) -> int:
    """ArrowEvalPython / MapInPandas / BatchEvalPython nodes in the
    physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # an adaptive plan that has run prints its final plan, then the initial one
    plan = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"\b(ArrowEvalPython|MapInPandas|BatchEvalPython)\b", plan))


def span_medians(tracer, names: dict[str, str]) -> dict[str, float]:
    """Per metric, the median over operations of the summed duration of
    the spans with that name."""
    per_op: dict[str, dict[object, float]] = {k: {} for k in names}
    for s in tracer.spans:
        for key, name in names.items():
            if s["name"] == name:
                per_op[key][s["op"]] = per_op[key].get(s["op"], 0.0) + s["end"] - s["start"]
    return {k: _median(list(v.values())) for k, v in per_op.items()}


# ---------------------------------------------------------------------------
# serve_upload: the reference web path through ProgressServer
# ---------------------------------------------------------------------------

XLSX_MIME = "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"


class ServeUpload(Workload):
    name = "serve_upload"
    warmup_ops = 3
    n_companies = 100
    pool = 15_000
    n_uploads = 64

    def inputs(self) -> None:
        from leadsight_sales_agent_spark.sources.excel import write_excel_rows

        self.server = None
        self.n_ops = 0
        self._op_span = self._rt_span = None
        self.expected = checks.load_expected()
        self.batches = datagen.upload_batches(
            self.ctx.seed, self.pool, self.n_companies, self.n_uploads
        )
        self.payloads = []
        path = os.path.join(self.ctx.work, "upload.xlsx")
        for batch in self.batches:
            write_excel_rows(path, ["company_name", "website"], batch)
            with open(path, "rb") as f:
                self.payloads.append(f.read())
        os.remove(path)

    # -- the job ProgressServer runs for each accepted upload -------------

    def upload_job(self, manager, header, rows) -> int:
        """Build the frame, enrich it, stream each output row into
        /results with company_start / company_done events, and publish
        the output workbook on /download."""
        from leadsight_sales_agent_spark.operators.enrich import OUTPUT_COLUMNS, enrich_pipeline
        from leadsight_sales_agent_spark.sources.excel import write_excel_rows

        ctx, tr, span = self.ctx, self.ctx.tracer, self._op_span
        with tr.span("serve.enrich", op=span, parent=self._rt_span):
            name_i, site_i = header.index("company_name"), header.index("website")
            with tr.span("enrich.build"), ctx.group("enrich.build") as gb:
                frame = ctx.spark.createDataFrame(
                    [[i, r[name_i], r[site_i]] for i, r in enumerate(rows)],
                    "_row_idx BIGINT, company_name STRING, website STRING",
                ).coalesce(1)
                out = enrich_pipeline(ctx.spark, frame)
            manager.total = len(rows)
            results = []
            with tr.span("enrich.exec"), ctx.group("enrich.exec") as gx:
                for row in out.toLocalIterator():
                    rec = row.asDict()
                    manager.push_event("company_start", {"company": rec["Company Name"]})
                    manager.push_result(rec)
                    results.append([rec[c] for c in OUTPUT_COLUMNS])
                    manager.current += 1
                    manager.push_event("company_done", {"company": rec["Company Name"]})
            with tr.span("excel.write"):
                path = os.path.join(ctx.work, "download.xlsx")
                write_excel_rows(path, OUTPUT_COLUMNS, results)
                with open(path, "rb") as f:
                    self.server.download_bytes = f.read()
        if ctx.stats:
            self._record_enrich_stats(gb, gx, out)
        return len(results)

    def _record_enrich_stats(self, gb: str, gx: str, out) -> None:
        stats = self.ctx.stats
        b, x = stats.collect(gb), stats.collect(gx)
        self.record("enrich.build_jobs", b["jobs"])
        self.record("enrich.jobs", b["jobs"] + x["jobs"])
        self.record("enrich.stages", b["stages"] + x["stages"])
        self.record("enrich.executor_run_s", b["executor_run_s"] + x["executor_run_s"])
        self.record("enrich.shuffle_write_bytes", b["shuffle_write_bytes"] + x["shuffle_write_bytes"])
        self.record("enrich.python_nodes", python_nodes(out))
        self.record("spark.persisted_rdds", stats.persisted_rdds())

    def prepare(self) -> None:
        from leadsight_sales_agent_spark.streaming.jobs import JobManager
        from leadsight_sales_agent_spark.streaming.serve import ProgressServer

        self.server = ProgressServer(
            JobManager(), download_name="output.xlsx", download_mime=XLSX_MIME,
            upload_job=self.upload_job,
        )
        self.port = self.server.start()

    def release(self) -> None:
        if self.server is not None:
            self.server.manager.join(60)
            self.server.stop()
            self.server = None

    def _get(self, path: str) -> bytes:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request("GET", path)
            return conn.getresponse().read()
        finally:
            conn.close()

    def _round_trip(self, payload: bytes, span: int | None) -> dict:
        boundary = "perfbench7c1e"
        body = (
            f'--{boundary}\r\nContent-Disposition: form-data; name="file"; '
            'filename="companies.xlsx"\r\nContent-Type: application/octet-stream\r\n\r\n'
        ).encode() + payload + f"\r\n--{boundary}--\r\n".encode()
        out: dict = {"frames": [], "lags": [], "closed": False, "first": None}
        with self.ctx.tracer.span("serve.round_trip", op=span) as rt:
            # the upload job and the server's parse run on server threads:
            # they hang their spans under this one
            self._op_span, self._rt_span = span, rt
            t0 = time.perf_counter()
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            conn.request("POST", "/upload", body, {
                "Content-Type": f"multipart/form-data; boundary={boundary}",
                "Content-Length": str(len(body)),
            })
            resp = conn.getresponse()
            resp.read()
            conn.close()
            out["status"] = resp.status
            out["accept_s"] = time.perf_counter() - t0
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            conn.request("GET", "/progress?offset=0")
            for raw in conn.getresponse():
                line = raw.decode().rstrip("\r\n")
                if line == "event: close":
                    out["closed"] = True
                    break
                if not line.startswith("data: "):
                    continue
                ev = json.loads(line[6:])
                out["lags"].append(time.time() - ev["ts"])
                out["frames"].append((ev["type"], ev.get("data")))
                if ev["type"] == "company_done" and out["first"] is None:
                    out["first"] = time.perf_counter() - t0
            conn.close()
            t1 = time.perf_counter()
            out["results"] = json.loads(self._get("/results"))["results"]
            t2 = time.perf_counter()
            out["download"] = self._get("/download")
            t3 = time.perf_counter()
        out.update(done_s=t3 - t0, results_s=t2 - t1, download_s=t3 - t2)
        return out

    def op(self, op_span: int | None) -> Op:
        from leadsight_sales_agent_spark.sources.excel import read_excel_rows

        i = self.n_ops % self.n_uploads
        self.n_ops += 1
        rt = self._round_trip(self.payloads[i], op_span)
        self.server.manager.join(60)  # the job thread ends right after "done"
        try:
            download = read_excel_rows(io.BytesIO(rt["download"]))
        except (zipfile.BadZipFile, KeyError, ValueError):
            download = None
        problems, founded = checks.check_upload(
            rt["status"], rt["frames"], rt["closed"], rt["results"], download,
            self.batches[i], self.expected,
        )
        if self.ctx.stats:
            rows = [[r.get(c) for c in checks.OUTPUT_COLUMNS] for r in rt["results"]]
            self.record("enrich.llm_ok_frac", checks.llm_ok_frac(rows))
            self.record("enrich.founded_order_rows", founded)
            self.record("serve.upload_accept_s", rt["accept_s"])
            self.record("serve.sse_lag_p50_s", _median(rt["lags"]))
            self.record("serve.events", len(rt["frames"]))
            self.record("serve.results_s", rt["results_s"])
            self.record("serve.download_s", rt["download_s"])
        first = rt["first"] if rt["first"] is not None else rt["done_s"]
        return Op(rt["done_s"], len(rt["results"]), first, problems)

    @contextmanager
    def traced(self):
        from leadsight_sales_agent_spark.streaming import serve

        tr = self.ctx.tracer
        orig = serve.read_excel_rows

        def read_rows(*a, **k):
            with tr.span("excel.read", op=self._op_span, parent=self._rt_span):
                return orig(*a, **k)

        # the upload handler parses the workbook with serve.read_excel_rows
        serve.read_excel_rows = read_rows
        try:
            yield
        finally:
            serve.read_excel_rows = orig

    def layer_metrics(self) -> dict[str, float]:
        return span_medians(self.ctx.tracer, {
            "excel.read_s": "excel.read",
            "excel.write_s": "excel.write",
            "enrich.build_s": "enrich.build",
            "enrich.exec_s": "enrich.exec",
            "serve.enrich_s": "serve.enrich",
        })


# ---------------------------------------------------------------------------
# analytics_panel: registry queries over the generated tables
# ---------------------------------------------------------------------------

PANEL = [
    "mixture_doremi_tilt",  # build-heavy: 18 jobs fire while the DataFrame is built
    "agg_pricing_summary",  # exec: scan and aggregation
    "tpch_q9_product_type_profit",  # exec: five-table join and shuffles
    "tpch_q6_forecast_revenue",  # scan-bound
]
PANEL_SCALE = 0.01


class AnalyticsPanel(Workload):
    name = "analytics_panel"
    warmup_ops = 8

    def inputs(self) -> None:
        self.data = datagen.write_tables(
            self.ctx.seed, PANEL_SCALE, os.path.join(self.ctx.work, "tables")
        )
        # the first pass collects its results for verify() instead of
        # writing them to the noop sink
        self.collect = True
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def prepare(self) -> None:
        """Load every table through the catalog on the fresh context."""
        from leadsight_sales_agent_spark.sources.catalog import TABLES, load

        ctx = self.ctx
        stats = SparkStats(ctx.spark) if ctx.trace else None
        with stats.group("catalog.load") if stats else nullcontext() as g:
            t0 = time.perf_counter()
            for t in TABLES:
                load(ctx.spark, self.data, t)
            self.record("catalog.load_s", time.perf_counter() - t0)
        if stats:
            self.record("catalog.load_jobs", stats.collect(g)["jobs"])

    def verify(self) -> tuple[int, int, list[str]]:
        """Compare every panel query's result from the first warm-up pass
        with its DuckDB oracle twin."""
        import duckdb

        from leadsight_sales_agent_spark import registry
        from leadsight_sales_agent_spark.sources.catalog import TABLES

        con = duckdb.connect()
        problems: list[str] = []
        failed = 0
        try:
            con.execute("SET threads TO 4")
            con.execute(f"SET temp_directory='{self.ctx.work}/duckdb'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
            for q in PANEL:
                if q not in self.results:
                    failed += 1
                    problems.append(f"{q}: the checked pass produced no result")
                    continue
                cols, srows = self.results[q]
                rel = con.sql(registry.ORACLES[q])
                p = checks.check_oracle_result(q, cols, srows, list(rel.columns), rel.fetchall())
                failed += bool(p)
                problems += p
        finally:
            con.close()
        return len(PANEL), failed, problems

    def op(self, op_span: int | None) -> Op:
        from leadsight_sales_agent_spark import registry

        ctx, tr = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        first = None
        for q in PANEL:
            qb = time.perf_counter()
            with tr.span(f"registry.build:{q}", op=op_span), ctx.group(f"b:{q}") as gb:
                df = registry.QUERIES[q](ctx.spark, self.data)
            qx = time.perf_counter()
            with tr.span(f"operators.exec:{q}", op=op_span), ctx.group(f"x:{q}") as gx:
                if self.collect:
                    self.results[q] = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.format("noop").mode("overwrite").save()
            qe = time.perf_counter()
            ctx.spark.catalog.clearCache()
            first = first if first is not None else qe - t0
            if ctx.stats:
                b, x = ctx.stats.collect(gb), ctx.stats.collect(gx)
                self.record(f"q.{q}.build_s", qx - qb)
                self.record(f"q.{q}.build_jobs", b["jobs"])
                self.record(f"q.{q}.exec_s", qe - qx)
                self.record(f"q.{q}.exec_jobs", x["jobs"])
                self.record(
                    f"q.{q}.shuffle_write_bytes",
                    b["shuffle_write_bytes"] + x["shuffle_write_bytes"],
                )
        if ctx.stats:
            self.record("spark.persisted_rdds", ctx.stats.persisted_rdds())
        self.collect = False
        return Op(time.perf_counter() - t0, len(PANEL), first)

    @contextmanager
    def traced(self):
        from leadsight_sales_agent_spark.sources import catalog

        tr = self.ctx.tracer
        orig = catalog.load

        def load(*a, **k):
            with tr.span("catalog.load"):
                return orig(*a, **k)

        # operator modules bind catalog.load by name at import time
        mods = [
            m for n, m in list(sys.modules.items())
            if n.startswith(PKG) and getattr(m, "load", None) is orig
        ]
        for m in mods:
            m.load = load
        try:
            yield
        finally:
            for m in mods:
                m.load = orig

    def layer_metrics(self) -> dict[str, float]:
        out = {
            f"q.{q}.{k}": _median(self.layer.get(f"q.{q}.{k}", []))
            for q in PANEL
            for k in ("build_s", "build_jobs", "exec_s", "exec_jobs", "shuffle_write_bytes")
        }
        for k in ("build_s", "build_jobs", "exec_s"):
            out[f"analytics.{k}"] = sum(out[f"q.{q}.{k}"] for q in PANEL)
        return out


WORKLOADS = {w.name: w for w in (ServeUpload, AnalyticsPanel)}
