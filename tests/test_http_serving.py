"""Loopback HTTP serving twin (streaming/serve.py): the five reference
routes execute over a real socket and the SSE stream is batch-equivalent
to the JobManager event log it serves. Stdlib client only; 127.0.0.1."""

from __future__ import annotations

import json
import socket
import time
import urllib.request

import pytest

from leadsight_sales_agent_spark.streaming.jobs import (
    DONE,
    IDLE,
    RUNNING,
    JobManager,
)
from leadsight_sales_agent_spark.streaming.serve import (
    MAX_DOWNLOAD_BYTES,
    ProgressServer,
)


def _get(port: int, path: str, timeout: float = 10.0):
    return urllib.request.urlopen(
        f"http://127.0.0.1:{port}{path}", timeout=timeout
    )


def _multipart(filename: str, data: bytes, field: str = "file"):
    boundary = "testboundary29a4f1"
    body = (
        (
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="{field}"; '
            f'filename="{filename}"\r\n'
            "Content-Type: application/octet-stream\r\n\r\n"
        ).encode()
        + data
        + f"\r\n--{boundary}--\r\n".encode()
    )
    return body, f"multipart/form-data; boundary={boundary}"


def _post(port: int, path: str, body: bytes, ctype: str, timeout: float = 10.0):
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=body,
        headers={"Content-Type": ctype},
        method="POST",
    )
    return urllib.request.urlopen(req, timeout=timeout)


def _upload(port: int, filename: str, data: bytes, field: str = "file"):
    body, ctype = _multipart(filename, data, field)
    return _post(port, "/upload", body, ctype)


def _run_job(manager: JobManager, n_steps: int = 5) -> None:
    def job(m: JobManager) -> str:
        m.total = n_steps
        for i in range(n_steps):
            m.current = i + 1
            m.push_event("company_done", {"i": i})
            time.sleep(0.02)
        return "ok"

    t = manager.start(job)
    t.join(10)


class TestHTTPServing:
    def test_status_snapshot_idle_and_done(self):
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        try:
            body = json.load(_get(port, "/status"))
            assert body["state"] == "idle"
            _run_job(m)
            body = json.load(_get(port, "/status"))
            assert body["state"] == DONE
            assert body["current"] == body["total"] == 5
            # start + 5 company_done + done
            assert body["n_events"] == 7
        finally:
            srv.stop()

    def test_progress_sse_replays_event_log_exactly(self):
        # Batch equivalence: the SSE frames (minus the close frame)
        # decode to exactly events_since(0) — the same pin the
        # data-shaped K3 analogue carries, now over a real socket.
        m = JobManager()
        _run_job(m)
        srv = ProgressServer(m)
        port = srv.start()
        try:
            raw = _get(port, "/progress").read().decode()
            frames = [f for f in raw.split("\n\n") if f.strip()]
            assert frames[-1].startswith("event: close")
            got = [json.loads(f.split("data: ", 1)[1]) for f in frames[:-1]]
            expected, _ = m.events_since(0)
            assert got == expected
            assert got[0]["type"] == "start"
            assert got[-1]["type"] == "done"
        finally:
            srv.stop()

    def test_progress_offset_resume(self):
        # A reconnecting client passes the offset it already consumed
        # and receives only the tail (reference server.py:340-355).
        m = JobManager()
        _run_job(m)
        srv = ProgressServer(m)
        port = srv.start()
        try:
            raw = _get(port, "/progress?offset=3").read().decode()
            frames = [f for f in raw.split("\n\n") if f.strip()][:-1]
            got = [json.loads(f.split("data: ", 1)[1]) for f in frames]
            expected, _ = m.events_since(3)
            assert got == expected
            assert len(got) == len(m.events) - 3
        finally:
            srv.stop()

    @pytest.mark.parametrize("offset", ["abc", "-2", "1.5"])
    def test_progress_bad_offset_400(self, offset):
        # a non-integer offset used to raise inside the handler (the
        # client saw RemoteDisconnected); a negative one replayed the
        # log's tail and then the whole log again
        m = JobManager()
        _run_job(m, n_steps=2)
        srv = ProgressServer(m)
        port = srv.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ex:
                _get(port, f"/progress?offset={offset}")
            assert ex.value.code == 400, offset
            assert ex.value.headers["Content-Type"] == "application/json"
            assert "offset" in json.load(ex.value)["error"], offset
        finally:
            srv.stop()

    def test_progress_streams_live_job(self):
        # Events pushed AFTER the client connects still arrive: the
        # handler polls while state == RUNNING.
        m = JobManager()

        def slow_job(mm: JobManager) -> None:
            mm.total = 3
            for i in range(3):
                time.sleep(0.1)
                mm.current = i + 1
                mm.push_event("step", i)

        t = m.start(slow_job)
        srv = ProgressServer(m)
        port = srv.start()
        try:
            assert m.state == RUNNING
            raw = _get(port, "/progress").read().decode()
            t.join(5)
            frames = [f for f in raw.split("\n\n") if f.strip()][:-1]
            types = [json.loads(f.split("data: ", 1)[1])["type"] for f in frames]
            assert types == ["start", "step", "step", "step", "done"]
        finally:
            srv.stop()

    def test_download_attachment_and_404_when_empty(self):
        m = JobManager()
        srv = ProgressServer(m)  # no artifact yet
        port = srv.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ex:
                _get(port, "/download")
            assert ex.value.code == 404
        finally:
            srv.stop()
        payload = b"company,score\nacme,9\n"
        srv2 = ProgressServer(m, download_bytes=payload, download_name="leads.csv")
        port2 = srv2.start()
        try:
            resp = _get(port2, "/download")
            assert resp.read() == payload
            assert resp.headers["Content-Type"] == "text/csv"
            assert 'filename="leads.csv"' in resp.headers["Content-Disposition"]
        finally:
            srv2.stop()

    def test_download_size_guard(self):
        with pytest.raises(ValueError):
            ProgressServer(JobManager(), download_bytes=b"x" * (MAX_DOWNLOAD_BYTES + 1))

    def test_unknown_route_404(self):
        srv = ProgressServer(JobManager())
        port = srv.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ex:
                _get(port, "/nope")
            assert ex.value.code == 404
            body, ctype = _multipart("x.csv", b"a,b\n1,2\n")
            with pytest.raises(urllib.error.HTTPError) as ex:
                _post(port, "/nope", body, ctype)
            assert ex.value.code == 404
        finally:
            srv.stop()


class TestUploadAndResults:
    """r8: the last two reference routes (POST /upload server.py:288-334,
    GET /results server.py:372-374) driven end-to-end over loopback:
    multipart in → contract-validated → job runs in a worker thread →
    /results serves the accumulated rows."""

    CSV = (
        b"company_name,website,industry\r\n"
        b"Acme,https://acme.test,robotics\r\n"
        b"Globex,https://globex.test,energy\r\n"
    )

    def test_upload_csv_full_workflow(self):
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        try:
            resp = _upload(port, "companies.csv", self.CSV)
            body = json.load(resp)
            assert body["message"] == "Scraping started."
            assert len(body["job_id"]) == 8
            m.join(10)
            status = json.load(_get(port, "/status"))
            assert status["state"] == DONE
            assert status["current"] == status["total"] == 2
            results = json.load(_get(port, "/results"))["results"]
            assert results == [
                {
                    "company_name": "Acme",
                    "website": "https://acme.test",
                    "industry": "robotics",
                },
                {
                    "company_name": "Globex",
                    "website": "https://globex.test",
                    "industry": "energy",
                },
            ]
            # the SSE stream replays the job the upload started
            raw = _get(port, "/progress").read().decode()
            frames = [f for f in raw.split("\n\n") if f.strip()][:-1]
            types = [json.loads(f.split("data: ", 1)[1])["type"] for f in frames]
            assert types == [
                "start",
                "company_start",
                "company_done",
                "company_start",
                "company_done",
                "done",
            ]
        finally:
            srv.stop()

    def test_upload_xlsx_roundtrip_via_own_writer(self, tmp_path):
        # the engine's own K1 writer produces the upload payload, so
        # the route exercises the real workbook parse path
        from leadsight_sales_agent_spark.sources.excel import write_excel_rows

        path = str(tmp_path / "companies.xlsx")
        write_excel_rows(
            path,
            ["company_name", "website"],
            [["Initech", "https://initech.test"]],
        )
        with open(path, "rb") as f:
            payload = f.read()
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        try:
            body = json.load(_upload(port, "companies.xlsx", payload))
            assert body["message"] == "Scraping started."
            m.join(10)
            results = json.load(_get(port, "/results"))["results"]
            assert results == [
                {"company_name": "Initech", "website": "https://initech.test"}
            ]
        finally:
            srv.stop()

    def test_upload_409_while_job_running(self):
        m = JobManager()

        def slow(mm: JobManager) -> None:
            time.sleep(0.5)

        t = m.start(slow)
        srv = ProgressServer(m)
        port = srv.start()
        try:
            assert m.state == RUNNING
            with pytest.raises(urllib.error.HTTPError) as ex:
                _upload(port, "c.csv", self.CSV)
            assert ex.value.code == 409
            assert json.load(ex.value)["error"] == "A job is already running."
            t.join(5)
        finally:
            srv.stop()

    @pytest.mark.parametrize("length", ["-1", "abc"])
    def test_upload_bad_content_length_400(self, length):
        # a negative length used to read the body to EOF, past
        # MAX_UPLOAD_BYTES, and start a job; the request is refused
        # before the body is read
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        body, ctype = _multipart("c.csv", self.CSV)
        head = (
            "POST /upload HTTP/1.1\r\nHost: 127.0.0.1\r\n"
            f"Content-Type: {ctype}\r\nContent-Length: {length}\r\n\r\n"
        ).encode()
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
                s.sendall(head + body)
                s.shutdown(socket.SHUT_WR)
                raw = b""
                while chunk := s.recv(65536):
                    raw += chunk
            status_line, _, rest = raw.partition(b"\r\n")
            assert b" 400 " in status_line, raw
            assert json.loads(rest.split(b"\r\n\r\n", 1)[1]) == {
                "error": "Invalid Content-Length."
            }
            assert m.state == IDLE
            assert m.events == []
        finally:
            srv.stop()

    def test_upload_missing_file_part_400(self):
        srv = ProgressServer(JobManager())
        port = srv.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ex:
                _upload(port, "c.csv", self.CSV, field="notfile")
            assert ex.value.code == 400
            assert json.load(ex.value)["error"] == "No file provided."
        finally:
            srv.stop()

    def test_upload_bad_extension_400(self):
        # P7 gate (reference server.py:298): a case-sensitive
        # endswith((".xlsx", ".xls", ".csv")), so an extension only
        # counts after a dot and at the very end of the name
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        try:
            for name in (
                "companies.parquet",
                "notes.txt",
                "archive.csv.gz",
                "xlsx",
                "data.CSV",
            ):
                with pytest.raises(urllib.error.HTTPError) as ex:
                    _upload(port, name, self.CSV)
                assert ex.value.code == 400, name
                assert json.load(ex.value)["error"] == (
                    "File must be .xlsx, .xls, or .csv"
                ), name
            assert m.state == IDLE
        finally:
            srv.stop()

    def test_upload_missing_contract_columns_400(self):
        # P3 contract (reference server.py:309-313): company_name and
        # website are required; everything else is passenger schema
        srv = ProgressServer(JobManager())
        port = srv.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as ex:
                _upload(port, "c.csv", b"name,url\r\nAcme,https://a.test\r\n")
            assert ex.value.code == 400
            err = json.load(ex.value)["error"]
            assert err.startswith("File must have columns:")
            assert "company_name" in err and "'name'" in err
        finally:
            srv.stop()

    def test_upload_unreadable_payload_400(self):
        # .xls passes the P7 gate, but there is no legacy .xls parser,
        # so it lands in the same "Could not read file" path
        srv = ProgressServer(JobManager())
        port = srv.start()
        try:
            for name, data in (
                ("broken.xlsx", b"\x00\x01 not a zip"),
                ("legacy.xls", self.CSV),
            ):
                with pytest.raises(urllib.error.HTTPError) as ex:
                    _upload(port, name, data)
                assert ex.value.code == 400, name
                assert json.load(ex.value)["error"].startswith(
                    "Could not read file:"
                ), name
        finally:
            srv.stop()

    def test_results_empty_before_any_job_and_reset_clears(self):
        m = JobManager()
        srv = ProgressServer(m)
        port = srv.start()
        try:
            assert json.load(_get(port, "/results"))["results"] == []
            json.load(_upload(port, "c.csv", self.CSV))
            m.join(10)
            assert len(json.load(_get(port, "/results"))["results"]) == 2
            m.reset()
            assert json.load(_get(port, "/results"))["results"] == []
        finally:
            srv.stop()
