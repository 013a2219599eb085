"""ST4/ST5 job gate + state machine (streaming/jobs.py; reference
server.py:56-66, 291-292) and the real-transport seams
(functions/transport.py; reference llm_utils.py:127-162, app.py:121) —
config/degradation logic only, no network."""

from __future__ import annotations

import json
import threading
import time

import pytest

from leadsight_sales_agent_spark.functions.transport import (
    HttpFetcher,
    LLMClient,
    extract_chat_content,
    llm_configured,
)
from leadsight_sales_agent_spark.streaming.jobs import (
    DONE,
    ERROR,
    IDLE,
    RUNNING,
    ConcurrentJobError,
    JobManager,
)


class TestJobStateMachine:
    def test_walks_idle_running_done(self):
        jm = JobManager()
        assert jm.state == IDLE
        seen = []

        def job(m: JobManager):
            seen.append(m.state)  # running while inside the job
            m.push_event("company_done", {"i": 0})
            return 42

        jm.start(job)
        jm.join(10)
        assert seen == [RUNNING]
        assert jm.state == DONE
        assert jm.result == 42
        assert [e["type"] for e in jm.events] == ["start", "company_done", "done"]

    def test_error_transition(self):
        jm = JobManager()
        jm.start(lambda m: (_ for _ in ()).throw(RuntimeError("boom")))
        jm.join(10)
        assert jm.state == ERROR
        assert "boom" in jm.error
        assert jm.events[-1]["type"] == "error"
        jm.reset()  # error → idle is allowed
        assert jm.state == IDLE

    @pytest.mark.parametrize("job, terminal", [
        (lambda m: 42, "done"),
        (lambda m: (_ for _ in ()).throw(RuntimeError("boom")), "error"),
    ], ids=["done", "error"])
    def test_terminal_event_logged_while_still_running(self, job, terminal):
        # /progress closes once the state has left RUNNING and the log is
        # drained: the terminal event must be in the log before that
        jm = JobManager()
        states = []
        push = jm.push_event

        def recording_push(etype, data=None):
            if etype == terminal:
                states.append(jm.state)
            push(etype, data)

        jm.push_event = recording_push
        jm.start(job)
        jm.join(10)
        assert states == [RUNNING]
        assert jm.state == (DONE if terminal == "done" else ERROR)

    def test_second_concurrent_job_rejected(self):
        jm = JobManager()
        release = threading.Event()
        jm.start(lambda m: release.wait(10))
        with pytest.raises(ConcurrentJobError):  # the reference's 409
            jm.start(lambda m: None)
        with pytest.raises(ConcurrentJobError):
            jm.reset()  # no reset mid-flight either
        release.set()
        jm.join(10)
        assert jm.state == DONE
        jm.start(lambda m: "again")  # terminal state accepts a new job
        jm.join(10)
        assert jm.result == "again"

    def test_event_offset_drain(self):
        jm = JobManager()
        done = threading.Event()

        def job(m: JobManager):
            for i in range(3):
                m.push_event("step", i)
            done.set()

        jm.start(job)
        done.wait(10)
        jm.join(10)
        batch1, off = jm.events_since(0)
        assert [e["type"] for e in batch1][: 2] == ["start", "step"]
        batch2, off2 = jm.events_since(off)
        assert batch2 == []  # fully drained
        assert off2 == off


class _FakeResp:
    def __init__(self, payload: bytes):
        self._payload = payload

    def read(self) -> bytes:
        return self._payload

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> bool:
        return False


class TestLLMClientConfig:
    def test_configured_predicate(self):
        assert not llm_configured(None, "m")
        assert not llm_configured("k", None)
        assert not llm_configured("", "")
        assert not llm_configured("YOUR_GROQ_API_KEY", "m")  # placeholder
        assert not llm_configured("k", "YOUR_GROQ_MODEL")
        assert llm_configured("gsk_real", "llama-3.1-70b-versatile")

    def test_unconfigured_skips_without_calling_transport(self):
        calls = []
        c = LLMClient(api_key="", model="", opener=lambda *a, **k: calls.append(a))
        assert c.complete("sys", "user") is None  # U2 graceful skip
        assert not calls

    def test_configured_posts_and_extracts_content(self):
        calls = []
        payload = json.dumps(
            {"choices": [{"message": {"content": "  {\"ok\": true}  "}}]}
        ).encode()

        def opener(req, timeout=None):
            calls.append((req, timeout))
            return _FakeResp(payload)

        c = LLMClient(api_key="gsk_x", model="m1", opener=opener)
        out = c.complete("sys", "user")
        assert out == '{"ok": true}'  # stripped (llm_utils.py:156-162)
        (req, timeout), = calls
        assert timeout == 60.0  # llm_utils.py:138
        assert req.get_header("Authorization") == "Bearer gsk_x"
        body = json.loads(req.data.decode())
        assert body["temperature"] == 0.2  # llm_utils.py:151
        assert body["model"] == "m1"
        assert [m["role"] for m in body["messages"]] == ["system", "user"]

    def test_transport_error_degrades_to_null(self):
        def opener(req, timeout=None):
            raise OSError("connection refused")

        c = LLMClient(api_key="gsk_x", model="m1", opener=opener)
        assert c.complete("sys", "user") is None  # U3 absorb

    def test_content_extraction_edge_cases(self):
        assert extract_chat_content({}) is None
        assert extract_chat_content({"choices": []}) is None
        assert extract_chat_content({"choices": [{"message": {"content": "  "}}]}) is None
        assert extract_chat_content({"choices": [{"message": {"content": "x"}}]}) == "x"


class TestRealTransportOptIn:
    def test_flag_default_off_and_truthy_values(self, monkeypatch):
        from leadsight_sales_agent_spark.operators.enrich import (
            REAL_TRANSPORT_ENV,
            _real_transport_enabled,
        )

        monkeypatch.delenv(REAL_TRANSPORT_ENV, raising=False)
        assert not _real_transport_enabled()  # mock is the default path
        for off in ("", "0", "false"):
            monkeypatch.setenv(REAL_TRANSPORT_ENV, off)
            assert not _real_transport_enabled()
        monkeypatch.setenv(REAL_TRANSPORT_ENV, "1")
        assert _real_transport_enabled()


class TestHttpFetcher:
    def test_batch_preserves_order_and_absorbs_failures(self):
        def opener(url, timeout=None):
            if "bad" in url:
                raise OSError("boom")
            time.sleep(0.01 if "slow" in url else 0)
            return _FakeResp(f"page:{url}".encode())

        f = HttpFetcher(opener=opener, max_workers=4)
        urls = [
            "https://slow.example.com",
            "https://bad.example.com",
            "https://ok.example.com",
            None,
            "not-a-url",
        ]
        out = f.fetch_batch(urls)
        assert out[0] == "page:https://slow.example.com"  # order kept
        assert out[1] is None  # error absorbed (U3)
        assert out[2] == "page:https://ok.example.com"
        assert out[3] is None and out[4] is None  # non-URLs skipped

    def test_default_timeout_matches_reference_page_budget(self):
        seen = []

        def opener(url, timeout=None):
            seen.append(timeout)
            return _FakeResp(b"x")

        HttpFetcher(opener=opener).fetch_batch(["https://a.example.com"])
        assert seen == [90.0]  # app.py:121 goto timeout
