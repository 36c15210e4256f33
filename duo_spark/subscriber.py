"""Client-side tracing subscriber — the duo-subscriber layer in Python.

The reference (`duo-subscriber/src/subscriber.rs:60-130`) hooks the Rust
`tracing` runtime: on_new_span assigns a random 32-bit id widened to
u64, inherits (parent_id, trace_id) from the contextual parent (fresh
random trace id at a root), sends the OPEN span (end unset), accumulates
busy/idle µs across enter/exit (subscriber.rs:174-214), and on_close
stamps `end` + `busy`/`idle` tags and sends the CLOSE record
(subscriber.rs:216-230); events inherit (trace_id, span_id) from the
current span (subscriber.rs:138-172). Messages flow through a bounded
2048-slot channel that DROPS on full (send_message,
subscriber.rs:77-84) so a slow collector never blocks the app.

This module plays that role for Python apps over the engine's ingest
bridge (DEVIATIONS.md #5): :class:`DuoSubscriber` is the connection +
bounded queue + sender thread; :meth:`DuoSubscriber.span` is the
context-manager/decorator lifecycle hook; :meth:`DuoSubscriber.log`
is on_event. Span nesting is tracked per thread (the Python analog of
tracing's contextual parent), and a child entering marks the parent
idle / child exiting marks it busy again — the same wall-clock split
the reference's enter/exit hooks produce for sync code.
"""

from __future__ import annotations

import functools
import queue
import random
import threading
import time
from typing import Any

from duo_spark.streaming.ingest_server import IngestClient

#: reference channel capacity (mpsc::channel(2048), subscriber.rs:60)
DEFAULT_BUFFER = 2048

_LEVELS = ("ERROR", "WARN", "INFO", "DEBUG", "TRACE")


def _now_us() -> int:
    return time.time_ns() // 1_000


class _SpanHandle:
    """One open span: identity + the reference's Timings accumulator
    (idle/busy µs split at enter/exit boundaries, subscriber.rs:36-52)."""

    __slots__ = ("id", "parent_id", "trace_id", "name", "tags", "start",
                 "busy_us", "idle_us", "_last")

    def __init__(self, span_id: int, parent_id: int | None, trace_id: int,
                 name: str, tags: dict[str, Any]):
        self.id = span_id
        self.parent_id = parent_id
        self.trace_id = trace_id
        self.name = name
        self.tags = tags
        self.start = _now_us()
        self.busy_us = 0
        self.idle_us = 0
        self._last = time.perf_counter_ns()

    def _mark(self) -> int:
        now = time.perf_counter_ns()
        delta_us, self._last = (now - self._last) // 1_000, now
        return delta_us

    def enter(self) -> None:  # on_enter: time since last mark was idle
        self.idle_us += self._mark()

    def exit(self) -> None:  # on_exit: time since last mark was busy
        self.busy_us += self._mark()


class DuoSubscriber:
    """Span/log producer for one service process.

    Opens one ingest connection, registers the process (the reference's
    per-connection register_process, grpc/server.rs:126-141), and ships
    records through a bounded drop-on-full queue on a daemon sender
    thread. Use as::

        sub = DuoSubscriber(host, port, "checkout")
        with sub.span("handle-request", route="/buy"):
            sub.log("INFO", "charging card", amount=12)
            with sub.span("db.query"):
                ...
        sub.close()          # flush + disconnect

    or as a decorator: ``@sub.trace("db.query")``.
    """

    def __init__(self, host: str, port: int, service: str,
                 tags: dict[str, Any] | None = None,
                 buffer: int = DEFAULT_BUFFER):
        self._client = IngestClient(host, port)
        self.process_id = self._client.register_process(service, tags or {})
        self._q: queue.Queue = queue.Queue(maxsize=buffer)
        self._local = threading.local()
        self._rng = random.Random()
        self._dropped = 0
        self._sender = threading.Thread(
            target=self._pump, name="duo-subscriber", daemon=True
        )
        self._sender.start()

    # ------------------------------------------------------- transport --

    def _pump(self) -> None:
        while True:
            item = self._q.get()
            if item is None:
                return
            kind, record = item
            try:
                if kind == "span":
                    self._client.record_span(**record)
                else:
                    self._client.record_log(**record)
            except OSError:
                return  # connection gone; queue drains to the sentinel

    def _send(self, kind: str, record: dict[str, Any]) -> None:
        """try_send semantics (subscriber.rs:77-84): full -> drop."""
        try:
            self._q.put_nowait((kind, record))
        except queue.Full:
            self._dropped += 1

    @property
    def dropped(self) -> int:
        """Records dropped because the buffer was full."""
        return self._dropped

    # ------------------------------------------------------- lifecycle --

    def _stack(self) -> list[_SpanHandle]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_span(self) -> _SpanHandle | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def span(self, name: str, **tags: Any) -> "_SpanContext":
        """Open a child of the thread's current span (fresh trace at a
        root). The OPEN record ships immediately (end=None) so the
        engine's span completion sees in-flight spans, exactly like
        the reference's NewSpan message."""
        return _SpanContext(self, name, tags)

    def trace(self, name: str | None = None, **tags: Any):
        """Decorator form of :meth:`span`."""

        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*args: Any, **kwargs: Any):
                with self.span(name or fn.__qualname__, **tags):
                    return fn(*args, **kwargs)

            return wrapper

        return deco

    def log(self, level: str, message: str, **fields: Any) -> None:
        """on_event: the record inherits (trace_id, span_id) from the
        thread's current span (subscriber.rs:147-154)."""
        if level.upper() not in _LEVELS:
            raise ValueError(f"level must be one of {_LEVELS}")
        cur = self.current_span()
        self._send("log", dict(
            process_id=self.process_id,
            time=_now_us(),
            trace_id=cur.trace_id if cur else None,
            span_id=cur.id if cur else None,
            level=level.upper(),
            message=message,
            fields=fields or None,
        ))

    def close(self, timeout: float = 10.0) -> None:
        """Flush buffered records and disconnect."""
        self._q.put(None)
        self._sender.join(timeout=timeout)
        self._client.close()


class _SpanContext:
    """Context manager for one span's open/close lifecycle."""

    def __init__(self, sub: DuoSubscriber, name: str, tags: dict[str, Any]):
        self._sub = sub
        self._name = name
        self._tags = tags
        self._handle: _SpanHandle | None = None

    def __enter__(self) -> _SpanHandle:
        sub = self._sub
        stack = sub._stack()
        parent = stack[-1] if stack else None
        if parent is not None:
            parent.exit()  # parent goes idle while the child runs
        span_id = sub._rng.getrandbits(32)  # u32 widened, subscriber.rs:103
        trace_id = parent.trace_id if parent else sub._rng.getrandbits(32)
        h = _SpanHandle(span_id, parent.id if parent else None, trace_id,
                        self._name, dict(self._tags))
        stack.append(h)
        sub._send("span", dict(
            id=h.id, parent_id=h.parent_id, trace_id=h.trace_id,
            name=h.name, process_id=sub.process_id,
            start=h.start, end=None, tags=h.tags or None,
        ))
        self._handle = h
        return h

    def __exit__(self, exc_type, exc, tb) -> None:
        sub = self._sub
        h = self._handle
        stack = sub._stack()
        assert stack and stack[-1] is h, "span contexts must nest"
        stack.pop()
        h.exit()  # time since last mark was busy
        tags = dict(h.tags)
        tags["busy"] = h.busy_us  # µs, like subscriber.rs:223-224
        tags["idle"] = h.idle_us
        if exc_type is not None:
            tags["error"] = True
        sub._send("span", dict(
            id=h.id, parent_id=h.parent_id, trace_id=h.trace_id,
            name=h.name, process_id=sub.process_id,
            start=h.start, end=_now_us(), tags=tags,
        ))
        if stack:
            stack[-1].enter()  # parent busy again
