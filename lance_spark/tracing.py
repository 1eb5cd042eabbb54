"""Trace-event capture — the reference ``lance.tracing`` surface
(python/python/lance/tracing.py: ``trace_to_chrome`` /
``capture_trace_events``). There the events come from the Rust tracing
subscriber; here ``emit`` is called from driver-side code. Today the only
caller is ``manifest.commit`` (every mutation funnels through it), which
emits one ``lance_spark::commit`` event per successful commit; index
builds and scans emit nothing yet.

Events are dispatched to callbacks from a dedicated daemon thread (same
non-blocking contract as the reference: reporting, not synchronization).
``trace_to_chrome`` accumulates chrome-trace-format instant events and
writes the JSON at process exit (or explicitly via the returned handle).
"""

from __future__ import annotations

import atexit
import json
import queue
import threading
import time
from dataclasses import dataclass, field


@dataclass
class TraceEvent:
    """One engine event (reference TraceEvent: target + args)."""

    target: str
    args: dict = field(default_factory=dict)
    timestamp: float = 0.0


_listeners: list = []
_queue: "queue.Queue[TraceEvent]" = queue.Queue()
_thread: threading.Thread | None = None
_lock = threading.Lock()


def _dispatch_loop() -> None:
    while True:
        ev = _queue.get()
        for cb in list(_listeners):
            try:
                cb(ev)
            except Exception:
                pass  # reporting only — a bad callback must not kill the pump


def _ensure_thread() -> None:
    global _thread
    with _lock:
        if _thread is None or not _thread.is_alive():
            _thread = threading.Thread(
                target=_dispatch_loop, name="lance-spark-trace", daemon=True
            )
            _thread.start()


def emit(target: str, **args) -> None:
    """Driver-side event emission. O(1) enqueue; a no-op (beyond the queue
    check) when nothing listens."""
    if not _listeners:
        return
    _queue.put(TraceEvent(target=target, args=args, timestamp=time.time()))


def capture_trace_events(callback) -> None:
    """Call ``callback(TraceEvent)`` for every engine event, from a
    dedicated thread (reference tracing.py:39-55)."""
    _ensure_thread()
    _listeners.append(callback)


class _ChromeTrace:
    def __init__(self, file: str):
        self._file = file
        self._events: list[dict] = []
        self._done = False
        capture_trace_events(self._on_event)
        atexit.register(self.finish)

    def _on_event(self, ev: TraceEvent) -> None:
        if not self._done:
            self._events.append(
                {
                    "name": ev.target,
                    "ph": "i",  # instant event
                    "ts": int(ev.timestamp * 1e6),
                    "pid": 0,
                    "tid": 0,
                    "s": "g",
                    "args": ev.args,
                }
            )

    def finish(self) -> None:
        """Flush the chrome trace JSON (idempotent; also runs atexit)."""
        if self._done:
            return
        # drain BEFORE detaching: events already enqueued (a commit emitted
        # just before finish) must still reach _on_event — removing the
        # listener first would drop them from the written trace
        deadline = time.time() + 1.0
        while not _queue.empty() and time.time() < deadline:
            time.sleep(0.01)
        time.sleep(0.05)  # let the in-flight dispatch complete
        self._done = True
        try:
            _listeners.remove(self._on_event)
        except ValueError:
            pass
        with open(self._file, "w") as fh:
            json.dump({"traceEvents": self._events}, fh)


def trace_to_chrome(*, file: str | None = None) -> _ChromeTrace:
    """Record engine events to a chrome://tracing / Perfetto-compatible
    file (reference tracing.py:19-36). The file is written at process exit
    or when ``.finish()`` is called on the returned handle."""
    return _ChromeTrace(file or "trace.json")
