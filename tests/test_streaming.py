"""Streaming twins: the stateful sessionizer must be batch-equivalent
(Structured Streaming's core guarantee), and the windowed-counts demo
must equal its batch aggregation.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from leadsight_sales_agent_spark import registry
from leadsight_sales_agent_spark.plans.inspect import formatted_plan
from leadsight_sales_agent_spark.sources.catalog import load

registry.load_all()


def sink_table(df):
    """A demo's result reads its memory sink back in the JVM: a
    LocalTableScan, not a Scan ExistingRDD rebuilt from driver rows."""
    plan = formatted_plan(df)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    return df


def batch_sessions(spark, sf_dir):
    """Ground truth: gap>30min island count per user via lag().

    Exact MICROSECOND gap compare, matching the stateful operator —
    a second-truncated compare can flip boundary gaps in (1800s, 1801s)
    and make this ground truth silently data-dependent."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    flagged = ev.withColumn("new_session", (gap_us > 30 * 60 * 1_000_000).cast("int"))
    return flagged.agg(
        (F.coalesce(F.sum("new_session"), F.lit(0)) + F.count_distinct("user_id")).alias("n")
    ).first()["n"]


class TestStatefulSessionize:
    def test_matches_batch_ground_truth(self, spark, sf_dir):
        got = sink_table(registry.QUERIES["streaming_sessionize_stateful"](spark, sf_dir))
        assert got.count() == batch_sessions(spark, sf_dir)

    def test_session_invariants(self, spark, sf_dir):
        rows = registry.QUERIES["streaming_sessionize_stateful"](spark, sf_dir).collect()
        for r in rows:
            assert r["session_start"] <= r["session_end"]
            assert r["n_events"] >= 1


class TestJobManagerIntegration:
    def test_streaming_query_under_job_gate(self, spark, sf_dir):
        """ST1-ST5 together: the windowed-counts streaming demo running
        as the supervised job — single-flight gate, state transitions,
        progress events drained by offset."""
        from leadsight_sales_agent_spark.streaming.jobs import (
            DONE,
            RUNNING,
            ConcurrentJobError,
            JobManager,
        )
        import pytest as _pytest

        jm = JobManager()

        def job(m: JobManager):
            m.push_event("step", "stream-start")
            df = registry.QUERIES["streaming_windowed_counts"](spark, sf_dir)
            n = df.count()
            m.push_event("step", {"rows": n})
            return n

        jm.start(job)
        if jm.state == RUNNING:  # gate rejects a concurrent submission
            with _pytest.raises(ConcurrentJobError):
                jm.start(lambda m: None)
        jm.join(120)
        assert jm.state == DONE
        assert jm.result > 0
        events, off = jm.events_since(0)
        assert [e["type"] for e in events] == ["start", "step", "step", "done"]
        assert jm.events_since(off)[0] == []  # drained


class TestWindowedCounts:
    def test_stream_equals_batch(self, spark, sf_dir):
        from leadsight_sales_agent_spark.streaming.demo import windowed_event_counts

        streamed = sink_table(registry.QUERIES["streaming_windowed_counts"](spark, sf_dir))
        got = sorted(map(str, streamed.collect()))
        ev = load(spark, sf_dir, "events")
        want = sorted(
            map(
                str,
                ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    # same order-independent decimal-sum device as the
                    # streaming side (demo._dsum_value_2dp)
                    F.round(F.sum(F.col("value").cast("decimal(25,6)")), 2)
                    .cast("double")
                    .alias("total_value"),
                )
                .select(
                    F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                        "window_start"
                    ),
                    "event_type",
                    "n_events",
                    "total_value",
                )
                .collect(),
            )
        )
        assert got == want


class TestWatermarkLateData:
    def test_late_rows_beyond_watermark_are_dropped(self, spark, tmp_path):
        """Event-time correctness under late data (§2.9 engine
        requirement): with a 10-minute watermark and hourly tumbling
        windows in APPEND mode, a row arriving after its window is
        finalized must be dropped, while on-time rows keep flowing."""
        import os
        from datetime import datetime, timedelta

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        src = str(tmp_path / "src")
        os.makedirs(src)
        base = datetime(2025, 1, 1, 10, 0, 0)

        def write_file(name, rows, mtime):
            pdf = pd.DataFrame(
                {
                    "ts": pd.Series([r[0] for r in rows], dtype="datetime64[us]"),
                    "value": [float(r[1]) for r in rows],
                }
            )
            path = os.path.join(src, name)
            pq.write_table(pa.Table.from_pandas(pdf), path)
            os.utime(path, (mtime, mtime))

        # batch 1: on-time events across 10:00-12:00 → watermark becomes
        # 11:49 after the batch commits
        b1 = [(base + timedelta(minutes=m), 1.0) for m in (5, 20, 70, 110, 119)]
        # batch 2: on-time row at 12:30 → the 10:00 window (end 11:00 <
        # wm 11:49) is EMITTED and its state evicted during this batch;
        # wm advances to 12:20
        b2 = [(base + timedelta(minutes=150), 1.0)]
        # batch 3: a LATE row at 10:06 — its window was finalized two
        # batches ago, so it must be dropped (a non-drop would surface
        # as a duplicate 10:00 window row carrying 100.0); plus one
        # on-time row at 12:40
        b3 = [(base + timedelta(minutes=6), 100.0), (base + timedelta(minutes=160), 1.0)]
        now = 1_700_000_000
        write_file("f1.parquet", b1, now)
        write_file("f2.parquet", b2, now + 60)
        write_file("f3.parquet", b3, now + 120)

        stream = (
            spark.readStream.schema("ts TIMESTAMP, value DOUBLE")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        )
        emitted = []

        def sink(df, _id):
            emitted.extend(df.collect())

        q = (
            agg.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        starts = [r["w"]["start"] for r in emitted]
        assert starts.count(base) == 1  # finalized window emitted exactly once
        by_start = {r["w"]["start"]: (r["n"], r["total"]) for r in emitted}
        # the 10:00 window carries batch-1 contents ONLY — the late
        # 100.0-valued row at 10:06 was dropped, not re-emitted
        assert by_start[base] == (2, 2.0)
        assert by_start[base + timedelta(hours=1)] == (3, 3.0)
        assert all(total < 100 for _, total in by_start.values())


class TestStreamStreamJoin:
    def test_stream_equals_batch_interval_join(self, spark, sf_dir):
        from leadsight_sales_agent_spark.streaming.demo import (
            batch_attribution_twin,
            streaming_stream_stream_join,
        )

        streamed = {
            (r["purchase_id"], r["click_id"])
            for r in sink_table(streaming_stream_stream_join(spark, sf_dir)).collect()
        }
        batch = {
            (r["purchase_id"], r["click_id"])
            for r in batch_attribution_twin(spark, sf_dir).collect()
        }
        assert streamed == batch
        assert len(batch) > 0


class TestStreamingDedup:
    def test_streamed_dedup_equals_batch_distinct(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load
        from leadsight_sales_agent_spark.streaming.demo import (
            streaming_dedup_watermarked,
        )

        got = sink_table(streaming_dedup_watermarked(spark, sf_dir)).collect()
        ids = [r["event_id"] for r in got]
        assert len(ids) == len(set(ids)), "duplicates survived the stream"
        want = {
            r["event_id"] for r in load(spark, sf_dir, "events").collect()
        }
        assert set(ids) == want, "dedup dropped or invented events"


class TestStreamStaticJoin:
    def test_equals_batch_twin(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load
        from leadsight_sales_agent_spark.streaming.demo import (
            _segment_counts,
            _segment_dim,
            streaming_static_enrich_join,
        )

        got = {
            (r["segment"], r["n_events"])
            for r in sink_table(streaming_static_enrich_join(spark, sf_dir)).collect()
        }
        ev = load(spark, sf_dir, "events").select("user_id", "event_id")
        want = {
            (r["segment"], r["n_events"])
            for r in _segment_counts(ev, _segment_dim(spark, sf_dir)).collect()
        }
        assert got == want and got, (got, want)


class TestProgressEventChannels:
    """K3/K4 (reference server.py:337-381): the SSE event sink and the
    JSON status snapshot as data. The reference's /progress generator
    drains job["events"][last_idx:] per poll; its /status reports a
    counter snapshot. The equivalence properties: offset-drained chunks
    reassemble the one-shot log even when each poll RECOMPUTES the log
    (the reference recomputes per poll too — it re-reads the live
    list), and the pct column is exactly the drain counter's ratio
    ladder, so any /status built from the log agrees with the
    consumer's own position."""

    @staticmethod
    def _ordered_log(spark, sf_dir):
        df = registry.QUERIES["streaming_progress_events"](spark, sf_dir)
        # (pct, event_id) is a deterministic total order (event_id is
        # unique), so repeated recomputation yields an identical list.
        return df.orderBy("pct", "event_id").collect()

    def test_offset_drain_equals_full_log(self, spark, sf_dir):
        full = self._ordered_log(spark, sf_dir)
        assert full
        drained, offset = [], 0
        step = max(1, len(full) // 3)
        while offset < len(full):
            poll = self._ordered_log(spark, sf_dir)  # fresh recompute per poll
            new = poll[offset : offset + step]
            assert new, "consumer stalled before the log was drained"
            drained.extend(new)
            offset += len(new)
        assert drained == full

    def test_sse_payloads_parse_with_reference_shape(self, spark, sf_dir):
        import json as _json

        full = self._ordered_log(spark, sf_dir)
        for r in full:
            p = _json.loads(r["sse_payload"])
            assert set(p) == {"type", "data", "ts"}
            assert p["type"] == "company_done"
            assert isinstance(p["ts"], float)
        assert full[-1]["pct"] == 100.0

    def test_status_snapshot_pct_is_the_drain_counter_ratio(self, spark, sf_dir):
        full = self._ordered_log(spark, sf_dir)
        total = len(full)
        want = [round((k + 1) / total * 100, 2) for k in range(total)]
        assert [r["pct"] for r in full] == want


class TestCheckpointRecovery:
    def test_restart_from_checkpoint_resumes_exactly_once(self, spark, tmp_path):
        """K2/ST3 failure recovery: a stream that dies mid-run must, on
        restart with the SAME checkpoint, resume from the last committed
        offset — already-committed micro-batches are never redelivered
        and every source row is materialized exactly once across the two
        runs. This is the property that makes foreachBatch-with-
        checkpoint a real incremental sink rather than a hopeful one."""
        import os

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(src)
        now = 1_700_000_000
        for i in range(3):  # one file per micro-batch (maxFilesPerTrigger=1)
            path = os.path.join(src, f"f{i}.parquet")
            pq.write_table(
                pa.Table.from_pandas(
                    pd.DataFrame({"batch_tag": [i] * 4, "row_id": list(range(i * 4, i * 4 + 4))})
                ),
                path,
            )
            os.utime(path, (now + 60 * i, now + 60 * i))

        def reader():
            return (
                spark.readStream.schema("batch_tag BIGINT, row_id BIGINT")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )

        run1: list[tuple[int, list]] = []

        def crashing_sink(batch_df, batch_id):
            if batch_id == 1:
                raise RuntimeError("injected crash before batch 1 commits")
            run1.append((batch_id, [r["row_id"] for r in batch_df.collect()]))

        q = (
            reader()
            .writeStream.outputMode("append")
            .foreachBatch(crashing_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        import pytest as _pytest
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with _pytest.raises(StreamingQueryException):
            q.awaitTermination(120)

        committed_run1 = {bid for bid, _ in run1}
        assert committed_run1 == {0}, run1  # batch 0 landed before the crash

        run2: list[tuple[int, list]] = []

        def sink(batch_df, batch_id):
            run2.append((batch_id, [r["row_id"] for r in batch_df.collect()]))

        q2 = (
            reader()
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)

        # resumed past the committed offset: batch 0 is never redelivered
        assert {bid for bid, _ in run2} == {1, 2}, run2
        # exactly-once across the crash: union of both runs' writes is
        # every source row, no duplicates
        all_rows = sorted(r for _, rows in run1 + run2 for r in rows)
        assert all_rows == list(range(12))


class TestStatefulUserTotals:
    def test_stateful_totals_equal_batch_twin_exactly(self, spark, sf_dir):
        # The custom stateful operator folds integer micro-units, so
        # the final snapshot must equal the batch groupBy aggregation
        # integer-for-integer — across at least one cross-batch state
        # carry-over (the source is staged as two files).
        from pyspark.sql import functions as F

        from leadsight_sales_agent_spark import registry
        from leadsight_sales_agent_spark.sources.catalog import load

        registry.load_all()
        got = {
            (r["user_id"], r["n_events"], r["total_value_micro"])
            for r in sink_table(
                registry.QUERIES["streaming_user_totals_stateful"](spark, sf_dir)
            ).collect()
        }
        ev = load(spark, sf_dir, "events")
        twin = ev.groupBy("user_id").agg(
            F.count("*").alias("n"),
            F.sum(
                (F.col("value").cast("decimal(25,6)") * 1000000).cast("bigint")
            ).alias("v"),
        )
        exp = {(r["user_id"], r["n"], r["v"]) for r in twin.collect()}
        assert got == exp


class TestIncrementalRollupStreaming:
    def test_foreachbatch_partials_equal_batch_rollup(self, spark, sf_dir, tmp_path):
        # The streaming twin of incremental_agg_maintenance: the SAME
        # integer micro-unit partials merged per micro-batch (arbitrary
        # file slicing) must finalize to the batch rollup exactly —
        # the mergeable-partials contract under any arrival order.
        orders = load(spark, sf_dir, "orders")
        src = str(tmp_path / "orders_stream")
        orders.repartition(3).write.parquet(src)

        state: dict[tuple, list] = {}

        def sink(df, _epoch):
            part = (
                df.groupBy(
                    F.col("o_orderpriority").alias("priority"),
                    F.date_trunc("month", "o_orderdate").alias("order_month"),
                )
                .agg(
                    F.sum(
                        (F.col("o_totalprice").cast("decimal(25,6)") * 1000000)
                        .cast("decimal(38,0)")
                    ).alias("rev_micro"),
                    F.count("*").alias("n"),
                )
                .collect()
            )
            for r in part:
                key = (r["priority"], r["order_month"])
                cur = state.setdefault(key, [0, 0])
                cur[0] += int(r["rev_micro"])  # partial merge = integer addition
                cur[1] += r["n"]

        q = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            k: (round(v[0] / 1000000.0, 2), v[1]) for k, v in state.items()
        }
        want = {
            (r["priority"], r["order_month"]): (r["revenue"], r["n_orders"])
            for r in registry.QUERIES["incremental_agg_maintenance"](
                spark, sf_dir
            ).collect()
        }
        assert got == want


class TestExactlyOnceSinkGuard:
    def test_batch_id_guard_makes_redelivery_idempotent(self, spark, sf_dir, tmp_path):
        # foreachBatch promises at-least-once delivery: after a crash
        # between sink commit and checkpoint commit, the SAME batch_id
        # is redelivered. An additive-partials sink double-counts
        # unless it records applied batch ids — the standard
        # exactly-once guard. This test replays every batch and pins
        # that the guarded state still equals the single-delivery run.
        orders = load(spark, sf_dir, "orders").limit(3000)
        src = str(tmp_path / "orders_eo")
        orders.repartition(3).write.parquet(src)

        state: dict = {}
        applied: set = set()
        deliveries: list = []

        def guarded_sink(df, epoch_id):
            rows = (
                df.groupBy("o_orderpriority")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            deliveries.append((epoch_id, rows))
            if epoch_id in applied:  # the guard
                return
            applied.add(epoch_id)
            for r in rows:
                state[r["o_orderpriority"]] = (
                    state.get(r["o_orderpriority"], 0) + r["n"]
                )

        q = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(guarded_sink)
            .option("checkpointLocation", str(tmp_path / "ckpt_eo"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(deliveries) >= 2  # several micro-batches ran

        # crash-replay simulation: redeliver every recorded batch
        # through the same guard — all must be absorbed
        before = dict(state)
        for epoch_id, rows in deliveries:
            if epoch_id not in applied:
                applied.add(epoch_id)
                for r in rows:
                    state[r["o_orderpriority"]] = (
                        state.get(r["o_orderpriority"], 0) + r["n"]
                    )
        assert state == before  # replays were all absorbed

        # and the guarded totals are the true totals
        want = {
            r["o_orderpriority"]: r["n"]
            for r in orders.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert state == want


class TestStateStoreReader:
    def test_state_source_exposes_live_aggregation_state(self, spark, tmp_path):
        """Spark 4 state data source: the checkpointed state of a
        running aggregation is itself a queryable DataFrame — the
        observability surface for debugging skewed/stuck stateful jobs
        at scale (which keys hold state, in which partitions, how
        much) without stopping the stream. The state contents must
        equal the same aggregation run as a batch query."""
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        sample = events.select(
            "user_id", "event_type"
        ).limit(500)
        sample.write.json(src)
        stream = (
            spark.readStream.schema("user_id long, event_type string").json(src)
        )
        q = (
            stream.groupBy("event_type")
            .count()
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        meta = spark.read.format("state-metadata").load(ckpt).collect()
        assert len(meta) == 1 and meta[0]["operatorName"] == "stateStoreSave"

        state = spark.read.format("statestore").load(ckpt).collect()
        got = {r["key"]["event_type"]: r["value"]["count"] for r in state}
        want = {
            r["event_type"]: r["n"]
            for r in spark.read.json(src)
            .groupBy("event_type")
            .agg({"*": "count"})
            .withColumnRenamed("count(1)", "n")
            .collect()
        }
        assert got == want


class TestRocksDBStateStore:
    def test_stateful_agg_on_rocksdb_provider(self, spark, tmp_path):
        """The default HDFS-backed state store keeps all state on the
        JVM heap — at 100 TB of keyed state that's the OOM everyone
        hits; RocksDB is the production provider (state spills to
        local SSD, incremental checkpointing). This proves the bundled
        provider actually runs here: same aggregation, same results,
        state file layout on disk, and the state reader still works."""
        src = str(tmp_path / "src")
        ckpt = str(tmp_path / "ckpt")
        key = "spark.sql.streaming.stateStore.providerClass"
        saved = spark.conf.get(key, None)
        rocks = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        try:
            spark.conf.set(key, rocks)
            events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
            events.select("user_id", "event_type").limit(400).write.json(src)
            stream = spark.readStream.schema(
                "user_id long, event_type string"
            ).json(src)
            q = (
                stream.groupBy("event_type")
                .count()
                .writeStream.format("noop")
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            state = spark.read.format("statestore").load(ckpt).collect()
            got = {r["key"]["event_type"]: r["value"]["count"] for r in state}
            want = {
                r["event_type"]: r["n"]
                for r in spark.read.json(src)
                .groupBy("event_type")
                .agg({"*": "count"})
                .withColumnRenamed("count(1)", "n")
                .collect()
            }
            assert got == want
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)


class TestNativeSessionWindow:
    def test_session_window_stream_equals_batch_twin(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load
        from leadsight_sales_agent_spark.streaming.demo import (
            session_window_counts,
            streaming_session_window_native,
        )

        got = {
            tuple(r)
            for r in sink_table(streaming_session_window_native(spark, sf_dir)).collect()
        }
        # batch twin: the same session_window aggregation run as a batch
        # query over the same events (watermark is a no-op in batch)
        ev = load(spark, sf_dir, "events")
        want = {tuple(r) for r in session_window_counts(ev).collect()}
        assert got == want and got, (len(got), len(want))

    def test_sessions_respect_gap(self, spark, sf_dir):
        from leadsight_sales_agent_spark.sources.catalog import load
        from leadsight_sales_agent_spark.streaming.demo import session_window_counts

        rows = session_window_counts(load(spark, sf_dir, "events")).collect()
        # every session spans >= its event count's minimum possible time
        # and no two sessions of one user overlap or sit closer than the
        # 30-minute gap
        from collections import defaultdict
        by_user = defaultdict(list)
        for r in rows:
            by_user[r["user_id"]].append((r["session_start"], r["session_end"]))
        for user, spans in by_user.items():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert e1 <= s2, f"user {user}: overlapping sessions"


class TestWatermarkEvictionAudit:
    def test_hand_built_arrival_sequence(self, spark):
        """Pin the eviction rule on a constructed stream: batch size 3,
        delay 10 min. Batch 0 max ts = 10:00 -> watermark for batch 1
        is 09:50; batch 1 carries one row at 09:45 (dropped, 5 min
        late) and one at 09:55 (admitted — late but inside delay).
        Batch 0 rows are never dropped (no watermark yet)."""
        from datetime import datetime

        from leadsight_sales_agent_spark.streaming.demo import (
            watermark_eviction_flags,
        )

        T = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
        rows = [
            (0, T(9, 30)), (1, T(10, 0)), (2, T(9, 40)),   # batch 0
            (3, T(9, 45)), (4, T(9, 55)), (5, T(10, 30)),  # batch 1
            (6, T(10, 15)), (7, T(10, 25)), (8, T(10, 21)),  # batch 2
        ]
        df = spark.createDataFrame(rows, "event_id BIGINT, ts TIMESTAMP")
        got = {
            r["event_id"]: (r["dropped"], r["late_us"])
            for r in watermark_eviction_flags(df, batch=3, delay_min=10).collect()
        }
        # batch 0: no watermark yet -> all admitted
        assert got[0] == (0, None) and got[1] == (0, None) and got[2] == (0, None)
        # batch 1: watermark = 10:00 - 10min = 09:50
        assert got[3] == (1, 5 * 60 * 1_000_000)  # 09:45 is 5 min late
        assert got[4] == (0, None)  # 09:55 inside the delay
        assert got[5] == (0, None)
        # batch 2: watermark = max(10:00, 10:30) - 10min = 10:20
        assert got[6] == (1, 5 * 60 * 1_000_000)  # 10:15 dropped
        assert got[7] == (0, None)  # 10:25 admitted
        assert got[8] == (0, None)  # 10:21 admitted (>= is kept)

    def test_graded_accounting_consistency(self, spark, sf_dir):
        rows = registry.QUERIES["streaming_watermark_eviction_audit"](
            spark, sf_dir
        ).collect()
        assert rows, "the 90-min skew must produce drops"
        for r in rows:
            assert r["n_admitted"] + r["n_dropped"] == r["n_rows"]
            assert r["n_dropped"] > 0
            assert r["max_late_us"] > 0


class TestBoundedRunHelpers:
    def test_run_timeout_stops_query_and_removes_checkpoint(
        self, spark, tmp_path, monkeypatch
    ):
        # pyspark rejects a zero awaitTermination timeout, so the
        # smallest positive one (1 ms) stands in for "no time at all";
        # it comes before any micro-batch finishes.
        import os

        import pytest as _pytest

        from leadsight_sales_agent_spark.streaming import demo

        made: list[str] = []
        real_scratch = demo._scratch_dir

        def spy_scratch() -> str:
            made.append(real_scratch())
            return made[-1]

        monkeypatch.setattr(demo, "_scratch_dir", spy_scratch)
        src = str(tmp_path / "src")
        spark.range(10).write.parquet(src)
        stream = spark.readStream.schema("id BIGINT").parquet(src)
        before = {q.id for q in spark.streams.active}
        tables = {t.name for t in spark.catalog.listTables()}

        with _pytest.raises(TimeoutError):
            demo._run_bounded(stream, "append", 0.001)

        assert {q.id for q in spark.streams.active} == before
        assert {t.name for t in spark.catalog.listTables()} == tables
        assert len(made) == 1 and not os.path.exists(made[0])

    def test_second_stage_call_keeps_the_staged_files(self, spark, tmp_path, monkeypatch):
        import os
        import tempfile

        import pytest as _pytest

        from leadsight_sales_agent_spark.streaming import demo

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        df = spark.range(100)
        d = demo._stage("reuse_probe", "/sf/x", df, demo._repartitioned(2))

        def mtimes() -> dict[str, int]:
            return {f: os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)}

        first = mtimes()
        assert sum(f.endswith(".parquet") for f in first) == 2

        def must_not_write(_df, _d):
            _pytest.fail("a matching staged copy was rewritten")

        assert demo._stage("reuse_probe", "/sf/x", df, must_not_write) == d
        assert mtimes() == first

    def test_stage_rewrites_a_source_rewritten_with_the_same_row_count(
        self, spark, tmp_path, monkeypatch
    ):
        import tempfile

        from leadsight_sales_agent_spark.streaming import demo

        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        src = str(tmp_path / "src.parquet")
        spark.range(10).write.parquet(src)
        demo._stage("rewrite_probe", "/sf/x", spark.read.parquet(src), demo._repartitioned(1))
        spark.range(10, 20).write.mode("overwrite").parquet(src)

        wrote: list[str] = []
        demo._stage(
            "rewrite_probe", "/sf/x", spark.read.parquet(src), lambda _df, d: wrote.append(d)
        )
        assert wrote, "a source rewritten in place was streamed from the stale copy"
