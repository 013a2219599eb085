"""Job lifecycle surface (reference ST4/ST5): single-flight gate and the
idle → running → done/error state machine.

The reference serves one enrichment job at a time: a global mutable
``job`` dict holds status/counters/events (server.py:56-66), a second
``POST /upload`` while one runs is rejected with 409 (server.py:291-292),
and the SSE generator drains ``job["events"]`` from a client-held offset
(server.py:340-355). Here that becomes an engine-side ``JobManager``:

- ``start(fn)`` runs the job in a daemon worker thread (the reference's
  ``threading.Thread(run_scraper_thread, daemon=True)``, server.py:330-332)
  and raises ``ConcurrentJobError`` — the 409 — if one is active (ST4);
- state transitions are ``idle → running → done | error`` (ST5), with
  ``reset()`` gated on not-running like the reference's upload handler;
- ``push_event`` / ``events_since(offset)`` reproduce the append-only
  progress log + poll-drain consumer-offset pattern (ST1/ST2, K3).

Scale note: this is control-plane state — one tiny driver-side object
per running pipeline, never sharded data. The data plane it supervises
(a Structured Streaming query or batch action) is what distributes.
Unlike the reference's lock-free shared dict (safe only under the GIL
with a single writer), transitions here take an explicit lock so the
gate has no check-then-act race.
"""

from __future__ import annotations

import threading
import time
import traceback
from collections.abc import Callable
from typing import Any

IDLE = "idle"
RUNNING = "running"
DONE = "done"
ERROR = "error"

# Event types, verbatim reference vocabulary (README.md:209).
EVENT_TYPES = ("start", "step", "company_start", "company_done", "done", "error")


class ConcurrentJobError(RuntimeError):
    """A job is already running (the reference's HTTP 409, server.py:291-292)."""


class JobManager:
    """Single-flight job runner with an observable progress event log."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.state = IDLE
        self.error: str | None = None
        self.result: Any = None
        self.total = 0
        self.current = 0
        self.events: list[dict[str, Any]] = []
        # accumulating per-row output the reference exposes as
        # GET /results (job["results"], server.py:62 and 372-374) —
        # appended by the running job as each unit completes, so a
        # client can read partial output before the job finishes
        self.results: list[dict[str, Any]] = []

    # -- event log (ST1/K3) --------------------------------------------------

    def push_event(self, etype: str, data: Any = None) -> None:
        """Append {type, data, ts} — reference push_event (server.py:69-75)."""
        self.events.append({"type": etype, "data": data, "ts": time.time()})

    def push_result(self, row: dict[str, Any]) -> None:
        """Append one finished output row — the reference appends each
        enriched company to job["results"] as it completes
        (app.py result accumulation served by server.py:372-374)."""
        self.results.append(row)

    def events_since(self, offset: int) -> tuple[list[dict[str, Any]], int]:
        """Drain events from a consumer-held offset (ST2, server.py:340-355).
        Returns (new_events, next_offset)."""
        snapshot = self.events[offset:]
        return snapshot, offset + len(snapshot)

    # -- state machine (ST4/ST5) ----------------------------------------------

    def start(self, fn: Callable[[JobManager], Any]) -> threading.Thread:
        """Run ``fn(self)`` in a daemon thread; reject if one is active."""
        with self._lock:
            if self.state == RUNNING:
                raise ConcurrentJobError("a job is already running")
            # reference resets the job dict on accepted upload
            # (server.py:317-328): fresh counters, fresh event log
            self.state = RUNNING
            self.error = None
            self.result = None
            self.total = 0
            self.current = 0
            self.events = []
            self.results = []
            self.push_event("start")

            # the terminal event is logged before the state leaves
            # RUNNING: a /progress poll that sees a terminal state and
            # nothing new to drain closes the stream, so the event must
            # already be in the log by then
            def run() -> None:
                try:
                    self.result = fn(self)
                    self.push_event("done")
                    with self._lock:
                        self.state = DONE
                except Exception as ex:  # noqa: BLE001 — U3: absorb, report
                    self.push_event("error", str(ex))
                    with self._lock:
                        self.state = ERROR
                        self.error = f"{ex}\n{traceback.format_exc(limit=3)}"

            self._thread = threading.Thread(target=run, daemon=True)
            self._thread.start()
            return self._thread

    def join(self, timeout: float | None = None) -> None:
        if self._thread is not None:
            self._thread.join(timeout)

    def reset(self) -> None:
        """Back to idle — only from a terminal state, like the reference
        (an upload is only accepted when no job is running)."""
        with self._lock:
            if self.state == RUNNING:
                raise ConcurrentJobError("cannot reset a running job")
            self.state = IDLE
            self.error = None
            self.result = None
            self.events = []
            self.results = []

    def status(self) -> dict[str, Any]:
        """Snapshot — the reference's GET /status (server.py:361-369)."""
        return {
            "state": self.state,
            "total": self.total,
            "current": self.current,
            "error": self.error,
            "n_events": len(self.events),
        }
