"""Layer tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from outside the program: :func:`install` wraps the
public functions each layer is entered through, so the engine's own
code is unchanged. Each wrapper opens a span on the calling thread's
stack; a span's self time is its duration minus its children's. HTTP
requests get a Spark job group each (``<request>.route``, switched to
``<request>.qs`` while ``QueryService`` is rebuilt), so the route's
and the rebuild's jobs and tasks are read from the status tracker
after the run, not while the request is served.

The span file uses the engine's own span schema (``duo_spark.schemas``
SPAN_SCHEMA: id, parent_id, trace_id, name, process_id, start/end in
µs, tags as a JSON string), so a run can be loaded into a memory-mode
``DuoEngine`` and read back with ``trace_waterfall``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import threading
import time

#: routes whose layers are reported (QueryService method names)
ROUTES = ("list_traces", "get_trace", "list_logs", "field_stats", "operations")


def _now_us() -> int:
    return time.time_ns() // 1_000


#: ``process_id`` of every recorded span
PROCESS_ID = "perfbench-0"


class Tracer:
    """In-memory span recorder; one per traced host process. While
    ``enabled`` is false every wrapper calls straight through."""

    def __init__(self, sc):
        self.sc = sc
        self.enabled = True
        self.spans: list[dict] = []
        #: (kind, StreamingQuery) of every pipeline the engine started
        self.queries: list[tuple[str, object]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self, name: str) -> dict | None:
        """The innermost open span called ``name`` on this thread."""
        return next((s for s in reversed(self._stack()) if s["name"] == name), None)

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        s = {
            "id": sid,
            "parent_id": parent["id"] if parent else None,
            "trace_id": parent["trace_id"] if parent else sid,
            "name": name,
            "process_id": PROCESS_ID,
            "start": _now_us(),
            "end": None,
            "tags": dict(tags),
            "_child_s": 0.0,
        }
        t0 = time.perf_counter()
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            dur = time.perf_counter() - t0
            s["end"] = _now_us()
            s["tags"]["dur_s"] = dur
            s["tags"]["self_s"] = dur - s.pop("_child_s")
            if parent is not None:
                parent["_child_s"] += dur
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # ----------------------------------------------------- job groups --

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = st.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    # -------------------------------------------------------- output --

    def write_spans(self, path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from duo_spark.streaming.ingest_server import _SPAN_ARROW

        rows = {f.name: [] for f in _SPAN_ARROW}
        for s in self.spans:
            for k in rows:
                rows[k].append(json.dumps(s[k], sort_keys=True) if k == "tags" else s[k])
        pq.write_table(pa.Table.from_pydict(rows, schema=_SPAN_ARROW), path)

    def self_time_table(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            row["count"] += 1
            row["total_s"] += s["tags"]["dur_s"]
            row["self_s"] += s["tags"]["self_s"]
        return dict(sorted(out.items()))


def install(tracer: Tracer) -> None:
    """Wrap every layer entry point the benchmark reports on."""
    from duo_spark import engine
    from duo_spark.operators import traces as trace_ops
    from duo_spark.sources import store
    from duo_spark.streaming import ingest_server, merge
    from duo_spark.web import api

    for r in ROUTES:
        tracer.wrap(api.QueryService, r, f"api.{r}")
    # the operators only build plans; every call sits inside a route span
    for attr in ("filter_traces", "logs_for_traces", "correlate_span_logs", "distinct_operations"):
        tracer.wrap(trace_ops, attr, "operators.build")
    tracer.wrap(api, "search_logs", "operators.build")
    tracer.wrap(api, "field_stats_op", "operators.build")
    tracer.wrap(api, "serialize_trace", "serialize")
    tracer.wrap(api, "jaeger_data", "serialize")
    tracer.wrap(merge, "read_completed", "store.read_completed")
    tracer.wrap(store.HotColdTable, "df", "store.hotcold_df")

    qs = engine.DuoEngine.query_service

    @functools.wraps(qs)
    def query_service(self):
        req = tracer.current("server.request")
        if req is None:
            return qs(self)
        tracer.set_group(f"{req['tags']['req']}.qs")
        try:
            with tracer.span("engine.query_service"):
                return qs(self)
        finally:
            tracer.set_group(f"{req['tags']['req']}.route")

    engine.DuoEngine.query_service = query_service

    flush = ingest_server.IngestServer.flush

    @functools.wraps(flush)
    def traced_flush(self):
        with self._lock:
            rows = len(self._spans) + len(self._logs)
        if rows == 0 or not tracer.enabled:
            return flush(self)
        with tracer.span("ingest_server.flush", rows=rows):
            return flush(self)

    ingest_server.IngestServer.flush = traced_flush

    for kind in ("span", "log"):
        start = getattr(engine, f"start_{kind}_pipeline")

        def started(*args, _start=start, _kind=kind, **kwargs):
            q = _start(*args, **kwargs)
            tracer.queries.append((_kind, q))
            return q

        setattr(engine, f"start_{kind}_pipeline", started)


def request_hook(tracer: Tracer):
    """``serve_http(request_hook=...)``: one root span and one job
    group per HTTP request while tracing is enabled."""
    counter = itertools.count(1)

    @contextlib.contextmanager
    def hook(path: str):
        if not tracer.enabled:
            yield
            return
        req = f"req{next(counter)}"
        with tracer.span("server.request", req=req, path=path):
            tracer.set_group(f"{req}.route")
            try:
                yield
            finally:
                tracer.set_group(None)

    return hook


def _p50(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def service_layers(tracer: Tracer, since_us: int, until_us: int) -> dict[str, float]:
    """engine / store / api / operators / serialize / server layer
    metrics over the HTTP requests that started between ``since_us``
    and ``until_us``: medians per request (or per call)."""
    reqs = {s["id"]: s for s in tracer.spans
            if s["name"] == "server.request" and since_us <= s["start"] < until_us}
    inside = [s for s in tracer.spans if s["trace_id"] in reqs]
    by_id = {s["id"]: s for s in inside}

    def api_of(s: dict | None) -> dict | None:
        while s is not None and not s["name"].startswith("api."):
            s = by_id.get(s["parent_id"])
        return s

    build: dict[int, float] = {}
    ser: dict[int, float] = {}
    for s in inside:
        if s["name"] == "operators.build" and (a := api_of(s)) is not None:
            build[a["id"]] = build.get(a["id"], 0.0) + s["tags"]["dur_s"]
        elif s["name"] == "serialize":
            ser[s["trace_id"]] = ser.get(s["trace_id"], 0.0) + s["tags"]["dur_s"]

    def ms(name: str) -> list[float]:
        return [s["tags"]["dur_s"] * 1e3 for s in inside if s["name"] == name]

    m = {
        "engine.query_service_ms": _p50(ms("engine.query_service")),
        "engine.query_service_jobs": _p50(
            tracer.jobs_and_tasks(f"{r['tags']['req']}.qs")[0] for r in reqs.values()),
        "store.read_completed_ms": _p50(ms("store.read_completed")),
        "store.hotcold_df_ms": _p50(ms("store.hotcold_df")),
        "serialize.ms": _p50(v * 1e3 for v in ser.values()),
        "server.handler_ms": _p50(ms("server.request")),
    }
    for r in ROUTES:
        calls = [s for s in inside if s["name"] == f"api.{r}"]
        jt = [tracer.jobs_and_tasks(f"{reqs[s['trace_id']]['tags']['req']}.route") for s in calls]
        m[f"api.{r}.ms"] = _p50(s["tags"]["self_s"] * 1e3 for s in calls)
        m[f"api.{r}.jobs"] = _p50(j for j, _ in jt)
        m[f"api.{r}.tasks"] = _p50(t for _, t in jt)
        m[f"operators.{r}.build_ms"] = _p50(build.get(s["id"], 0.0) * 1e3 for s in calls)
    return m
