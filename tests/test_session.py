"""session.get_spark: Python workers import the package from any
working directory, not only from the repo root, and keep any executor
PYTHONPATH that was already set."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

from pyspark.sql import functions as F

from leadsight_sales_agent_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _probe_module(tmp_path) -> str:
    extra = tmp_path / "extra"
    extra.mkdir()
    (extra / "leadsight_probe_mod.py").write_text("VALUE = 7\n")
    return str(extra)


def test_udf_query_runs_from_a_foreign_working_directory(sf_dir, tmp_path):
    # Only the driver's sys.path knows the repo: no PYTHONPATH in the
    # environment and a cwd outside the repo, so the Arrow UDFs of the
    # enrichment pipeline import the package only if get_spark ships it.
    # spark-defaults.conf ships a second directory that a UDF must still
    # import from.
    extra = _probe_module(tmp_path)
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(f"spark.executorEnv.PYTHONPATH {extra}\n")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from leadsight_sales_agent_spark import registry
        from leadsight_sales_agent_spark.session import get_spark

        registry.load_all()
        spark = get_spark("foreign-cwd", cpus=2)
        spark.sparkContext.setLogLevel("ERROR")
        df = registry.QUERIES["leadsight_enrich_pipeline"](spark, {sf_dir!r})
        print("ROWS", len(df.collect()))

        @F.udf("int")
        def probe(_):
            import leadsight_probe_mod
            return leadsight_probe_mod.VALUE

        print("PROBE", spark.range(1).select(probe("id")).first()[0])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    env["SPARK_CONF_DIR"] = str(conf_dir)
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    lines = run.stdout.splitlines()
    rows = [ln for ln in lines if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0, run.stdout[-2000:]
    assert "PROBE 7" in lines, run.stdout[-2000:]


def test_running_context_keeps_its_executor_pythonpath(spark, tmp_path):
    # getOrCreate ignores builder settings for a running context, so
    # get_spark must still append to the PYTHONPATH that context ships.
    extra = _probe_module(tmp_path)
    env = spark.sparkContext.environment
    saved = env.get("PYTHONPATH")
    env["PYTHONPATH"] = extra
    try:
        assert get_spark("leadsight-tests", cpus=8) is spark
        assert env["PYTHONPATH"] == os.pathsep.join([extra, REPO])

        @F.udf("int")
        def probe(_):
            import leadsight_probe_mod

            return leadsight_probe_mod.VALUE

        assert spark.range(1).select(probe("id")).first()[0] == 7
    finally:
        if saved is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = saved
