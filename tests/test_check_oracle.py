"""tools/check_oracle.py's own failure handling: a dead Spark JVM stops
the run at once, and the replay mode's OOM retry is bounded (only the
named heavyweight oracles, never below the configured limit). Stub
sessions stand in for Spark, so the shared test session is never
stopped."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JNetworkError

from tools import check_oracle
from tools.check_oracle import jvm_alive, replay_floor


def _raise(exc):
    def call():
        raise exc

    return call


def _session(is_stopped):
    jsc = SimpleNamespace(sc=lambda: SimpleNamespace(isStopped=is_stopped))
    return SimpleNamespace(
        sparkContext=SimpleNamespace(_jsc=jsc),
        catalog=SimpleNamespace(clearCache=lambda: None),
    )


def _frame(rows):
    return SimpleNamespace(
        columns=["x"], dtypes=[("x", "string")], collect=lambda: list(rows)
    )


def _run(monkeypatch, capsys, session, queries, oracles, argv):
    import __spark_entry__

    from leadsight_sales_agent_spark import session as session_mod

    monkeypatch.setattr(session_mod, "get_spark", lambda *a, **k: session)
    monkeypatch.setattr(__spark_entry__, "queries", lambda: queries)
    monkeypatch.setattr(__spark_entry__, "oracle_sql", lambda: oracles)
    monkeypatch.delenv("SPARK_GRAFT_DUCKDB_MEMORY_LIMIT", raising=False)
    monkeypatch.setattr("sys.argv", ["check_oracle.py", *argv])
    rc = check_oracle.main()
    return rc, capsys.readouterr().out


class TestJvmAlive:
    def test_live_session_answers(self, spark):
        assert jvm_alive(spark)

    @pytest.mark.parametrize(
        "is_stopped",
        [
            _raise(Py4JNetworkError("An error occurred while trying to connect")),
            _raise(ConnectionRefusedError(111, "Connection refused")),
            lambda: True,
        ],
        ids=["py4j-network-error", "connection-refused", "stopped"],
    )
    def test_dead_or_stopped_jvm(self, is_stopped):
        assert not jvm_alive(_session(is_stopped))

    def test_dead_jvm_after_collect_stops_the_run(self, monkeypatch, capsys, sf_dir):
        """A collect that returns a truncated result without raising is
        reported as a dead JVM, not as a row-count mismatch, and no
        later query runs."""
        ran = []

        def first(spark, sf_dir):
            ran.append("a_first")
            return _frame([("1",), ("2",)])

        def second(spark, sf_dir):
            ran.append("b_second")
            return _frame([("1",)])

        session = _session(_raise(Py4JNetworkError("connection refused")))
        rc, out = _run(
            monkeypatch,
            capsys,
            session,
            {"a_first": first, "b_second": second},
            {"a_first": "SELECT '1' AS x", "b_second": "SELECT '1' AS x"},
            [sf_dir],
        )
        assert rc != 0
        assert "FAIL a_first: spark JVM died after 2 rows" in out
        assert ran == ["a_first"]
        assert "CHECK_ORACLE_SUMMARY" not in out


# Runs out of "memory" under the replay cap and answers at any other limit
_OOM_UNDER_CAP = (
    "SELECT CASE WHEN current_setting('memory_limit') = '256.0 MiB' "
    "THEN error('Out of Memory Error: stub') "
    "ELSE current_setting('memory_limit') END AS x"
)


class TestReplayMemoryFloor:
    @pytest.mark.parametrize(
        "limit,floor",
        [("256MiB", "2GiB"), ("2GB", "2GiB"), ("2GiB", "2GiB"), ("3GB", "3GB"), ("8GiB", "8GiB")],
    )
    def test_floor_never_lowers_the_configured_limit(self, limit, floor):
        assert replay_floor(limit) == floor

    def test_named_query_is_retried_at_the_floor(self, monkeypatch, capsys, sf_dir):
        name = "pipeline_full_release"
        assert name in check_oracle.REPLAY_FLOOR_QUERIES
        rc, out = _run(
            monkeypatch,
            capsys,
            _session(lambda: False),
            {name: lambda spark, sf_dir: _frame([("2.0 GiB",)])},
            {name: _OOM_UNDER_CAP},
            ["--driver-replay", sf_dir],
        )
        assert rc == 0, out
        assert f"note  {name}: oracle OOM under 256MiB; re-ran at the 2GiB per-query floor" in out
        assert f"ok    {name}" in out

    def test_other_query_oom_fails(self, monkeypatch, capsys, sf_dir):
        name = "agg_pricing_summary"
        assert name not in check_oracle.REPLAY_FLOOR_QUERIES
        rc, out = _run(
            monkeypatch,
            capsys,
            _session(lambda: False),
            {name: lambda spark, sf_dir: _frame([("2.0 GiB",)])},
            {name: _OOM_UNDER_CAP},
            ["--driver-replay", sf_dir],
        )
        assert rc == 1
        assert f"FAIL  {name}: duckdb error:" in out and "Out of Memory" in out
        assert "re-ran" not in out
