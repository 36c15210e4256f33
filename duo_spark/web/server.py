"""Stdlib HTTP binding for the query-service facade (SURVEY §3.1).

The reference serves its routes with axum (`duo/src/web/mod.rs:72-93`);
this module is the equivalent ~1-request-thread-per-connection binding
over :class:`duo_spark.web.api.QueryService` using only
`http.server` — no web framework, so the engine keeps zero non-Spark
dependencies. Route table and status mapping mirror the reference:

    200 JSON payload      (each QueryService method's return value)
    404 {"error": ...}    NotFound (unknown field, bad trace id) and
                          unmatched paths (mod.rs fallback)

Driver-side cost is O(response size): every endpoint collects an
already-bounded DataFrame (top-k logs, <= limit traces), so handler
threads only shape JSON. Spark is thread-safe for concurrent actions;
local mode shares the driver's scheduler across handler threads.
"""

from __future__ import annotations

import contextlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from duo_spark.web.api import NotFound, QueryService


def _params(query: str) -> dict[str, Any]:
    """axum Query<...> binding: last value wins for repeated keys."""
    return {k: v[-1] for k, v in parse_qs(query, keep_blank_values=True).items()}


def _route(service: QueryService, path: str, params: dict[str, Any]) -> Any:
    """Dispatch one GET to the facade (route table duo/src/web/mod.rs:72-82)."""
    parts = [p for p in path.split("/") if p]
    if path == "/stats":
        return service.stats()
    if parts[:1] != ["api"]:
        raise NotFound(path)
    rest = parts[1:]
    match rest:
        case ["traces"]:
            return service.list_traces(params)
        case ["traces", trace_id]:
            return service.get_trace(trace_id)
        case ["services"]:
            return service.services()
        case ["services", svc, "operations"]:
            return service.operations(svc)
        case ["logs"]:
            return service.list_logs(params)
        case ["logs", "schema"]:
            return service.log_schema()
        case ["logs", "stats", fld]:
            return service.field_stats(fld, params)
    raise NotFound(path)


class DuoHTTPServer:
    """Serve a QueryService over HTTP on a daemon thread.

    ``service_fn`` is called per request, and the facade it returns is
    entered around the request's dispatch (``with service:``).
    ``lambda: engine.query_service()`` gives each request a facade
    that leases the engine's current generation: the checkpointed
    span, log and trace frames of one store version, rebuilt only
    when the store key changes (a commit, compaction or replay). The
    lease ends when the dispatch does, so a request keeps reading its
    generation while a later one builds the next, and the engine frees
    a superseded generation once no request holds it. Pass a fixed
    closure for a static snapshot.
    """

    def __init__(self, service_fn, host: str = "127.0.0.1", port: int = 0,
                 request_hook=None):
        """``request_hook(path)``, when given, must return a context
        manager entered around each request's dispatch — the
        --collect-self seam (a subscriber span per request,
        duo/src/main.rs:97-111)."""
        self._service_fn = service_fn
        self._request_hook = request_hook
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                url = urlparse(self.path)
                hook = outer._request_hook
                try:
                    with hook(url.path) if hook else contextlib.nullcontext():
                        with outer._service_fn() as service:
                            payload = _route(service, url.path, _params(url.query))
                    status = 200
                except NotFound as e:
                    payload, status = {"error": str(e)}, 404
                except Exception as e:  # engine failure -> 500, never a hang
                    payload, status = {"error": f"{type(e).__name__}: {e}"}, 500
                body = json.dumps(payload).encode("utf-8")
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # quiet test output
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._httpd.daemon_threads = True
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    def start(self) -> "DuoHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="duo-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
