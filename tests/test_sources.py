"""Table scans and file sources: Spark's ORC and binaryFile readers,
partitioned writes, and ``catalog.load``'s session settings and pinned
schemas (sources/catalog.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from leadsight_sales_agent_spark.sources.catalog import load


class TestOrc:
    def test_orc_round_trip(self, spark, sf_dir, tmp_path):
        # ORC is the other columnar format Spark ships natively; the
        # catalog is parquet-first but nothing in the engine assumes it
        from leadsight_sales_agent_spark.sources.catalog import load

        docs = load(spark, sf_dir, "documents")
        out = str(tmp_path / "docs_orc")
        docs.write.mode("overwrite").orc(out)
        back = spark.read.orc(out)
        assert back.schema == docs.schema
        assert sorted(r["doc_id"] for r in back.collect()) == sorted(
            r["doc_id"] for r in docs.collect()
        )

    def test_orc_predicate_pushdown(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark.sources.catalog import load

        out = str(tmp_path / "orders_orc")
        load(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
        df = spark.read.orc(out).filter(F.col("o_orderkey") < 100).select("o_orderkey")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        assert "PushedFilters: [" in plan and "o_orderkey" in plan.split("PushedFilters")[1][:120]


class TestBinaryFileSource:
    def test_binaryfile_reads_bytes_with_metadata(self, spark, tmp_path):
        # the built-in binaryFile source is the ingestion seam for the
        # multimodal family: opaque bytes + path/length metadata
        payloads = {f"blob_{i}.bin": bytes([i]) * (10 + i) for i in range(3)}
        for name, data in payloads.items():
            (tmp_path / name).write_bytes(data)
        df = spark.read.format("binaryFile").load(str(tmp_path))
        rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
        assert set(rows) == set(payloads)
        for name, data in payloads.items():
            assert bytes(rows[name]["content"]) == data
            assert rows[name]["length"] == len(data)

    def test_binaryfile_path_glob_filter(self, spark, tmp_path):
        (tmp_path / "keep.png").write_bytes(b"x" * 4)
        (tmp_path / "skip.txt").write_bytes(b"y" * 4)
        df = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.png")
            .load(str(tmp_path))
        )
        assert [r["path"].rsplit("/", 1)[-1] for r in df.collect()] == ["keep.png"]


class TestPartitionedWrites:
    def test_dynamic_partition_overwrite_touches_only_written_partitions(
        self, spark, sf_dir, tmp_path
    ):
        """partitionOverwriteMode=dynamic is the idempotent-backfill
        primitive: re-running a day's job overwrites THAT day's
        partition and leaves the rest of the table intact (static mode
        would truncate everything). The replay-safety contract every
        incremental pipeline rests on."""
        out = str(tmp_path / "orders_parts")
        o = load(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
        before = {
            r["o_orderpriority"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            # backfill ONE priority with half its rows
            repl = o.filter(
                (o.o_orderpriority == "1-URGENT") & (o.o_orderkey % 2 == 0)
            )
            n_repl = repl.count()
            repl.write.partitionBy("o_orderpriority").mode("overwrite").parquet(out)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        after = {
            r["o_orderpriority"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert after["1-URGENT"] == n_repl, "target partition not replaced"
        for k, v in before.items():
            if k != "1-URGENT":
                assert after[k] == v, f"untouched partition {k} changed"

    def test_zstd_codec_round_trip(self, spark, sf_dir, tmp_path):
        """Columnar compression is a first-order cost lever at 100 TB;
        pin that the engine writes and reads zstd parquet (the modern
        default: snappy-class speed, gzip-class ratio)."""
        import glob
        import os

        out = str(tmp_path / "li_zstd")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
        li.write.option("compression", "zstd").mode("overwrite").parquet(out)
        files = glob.glob(os.path.join(out, "*.zstd.parquet"))
        assert files, "zstd codec suffix missing from written files"
        back = spark.read.parquet(out)
        assert back.count() == li.count()


class TestLoadKeepsSessionSettings:
    def test_load_does_not_turn_aqe_back_on(self, spark, sf_dir):
        key = "spark.sql.adaptive.enabled"
        saved = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            df = load(spark, sf_dir, "orders").groupBy("o_custkey").count()
            df.collect()
            assert spark.conf.get(key) == "false"
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "AdaptiveSparkPlan" not in plan
        finally:
            spark.conf.set(key, saved)


def _build_jobs(spark, build) -> int:
    """Jobs fired while ``build()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    gid = f"build-{uuid.uuid4()}"
    sc.setJobGroup(gid, "catalog pin test")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


class TestPinnedSchema:
    """catalog.load infers a table's schema once per session and file
    state, then builds every later DataFrame with no Spark job."""

    def test_second_load_fires_no_job(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({"o_orderkey": [1, 2, 3], "o_comment": ["a", "b", None]}),
            str(tmp_path / "orders.parquet"),
        )
        first = _build_jobs(spark, lambda: load(spark, str(tmp_path), "orders").columns)
        second = _build_jobs(spark, lambda: load(spark, str(tmp_path), "orders").columns)
        assert first >= 1  # the inference job, so the counter can see one
        assert second == 0
        df = load(spark, str(tmp_path), "orders")
        assert sorted(r["o_orderkey"] for r in df.collect()) == [1, 2, 3]

    def test_rewritten_file_is_inferred_again(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = str(tmp_path / "orders.parquet")
        pq.write_table(pa.table({"k": [1, 2], "v": [10, 20]}), path)
        assert dict(load(spark, str(tmp_path), "orders").dtypes) == {
            "k": "bigint",
            "v": "bigint",
        }
        pq.write_table(pa.table({"k": [3], "v": ["x"], "w": [0.5]}), path)
        df = load(spark, str(tmp_path), "orders")
        assert dict(df.dtypes) == {"k": "bigint", "v": "string", "w": "double"}
        assert [tuple(r) for r in df.collect()] == [(3, "x", 0.5)]

    def test_rewritten_spark_directory_is_inferred_again(self, spark, tmp_path):
        path = str(tmp_path / "orders.parquet")
        spark.range(4).selectExpr("id AS k").write.parquet(path)
        assert load(spark, str(tmp_path), "orders").columns == ["k"]
        spark.range(2).selectExpr("id AS k", "CAST(id AS STRING) AS s").write.mode(
            "overwrite"
        ).parquet(path)
        df = load(spark, str(tmp_path), "orders")
        assert dict(df.dtypes) == {"k": "bigint", "s": "string"}
        assert sorted(tuple(r) for r in df.collect()) == [(0, "0"), (1, "1")]

    def test_events_nanos_ts_stays_timestamp_when_pinned(self, spark, tmp_path):
        from datetime import datetime

        import pyarrow as pa
        import pyarrow.parquet as pq

        ts = pa.array(
            [1_700_000_000_123_456_789, 1_600_000_000_000_000_001],
            type=pa.timestamp("ns"),
        )
        pq.write_table(
            pa.table({"event_id": [1, 2], "ts": ts}),
            str(tmp_path / "events.parquet"),
            version="2.6",
        )
        assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == ts.type
        inferred = load(spark, str(tmp_path), "events")
        assert _build_jobs(spark, lambda: load(spark, str(tmp_path), "events").columns) == 0
        pinned = load(spark, str(tmp_path), "events")
        want = [
            (1, datetime(2023, 11, 14, 22, 13, 20, 123456)),
            (2, datetime(2020, 9, 13, 12, 26, 40)),
        ]
        for df in (inferred, pinned):
            assert dict(df.dtypes)["ts"] == "timestamp"
            assert sorted(tuple(r) for r in df.collect()) == want
