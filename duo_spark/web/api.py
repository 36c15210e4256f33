"""Query-service facade — the HTTP endpoint surface (SURVEY §3.1-§3.3).

Reference routing table (duo/src/web/mod.rs:72-82):

    /api/traces                        -> QueryService.list_traces
    /api/traces/:id                    -> QueryService.get_trace
    /api/services                      -> QueryService.services
    /api/services/:service/operations  -> QueryService.operations
    /api/logs                          -> QueryService.list_logs
    /api/logs/schema                   -> QueryService.log_schema
    /api/logs/stats/:field             -> QueryService.field_stats
    /stats                             -> QueryService.stats

Each method takes a LENIENT params dict (the axum Query<...> binding,
duo/src/web/logs.rs:22-34, duo/src/web/trace.rs:17-33, with the
ignore-garbage deserializers of duo/src/web/deser.rs:7-13,37-42,
198-239) and returns the endpoint's exact JSON payload via the
serializers in duo_spark.web.serialize.

Altitude: the distributed job ends at a bounded DataFrame (top-k logs,
<= limit traces); response shaping is O(response size) driver Python.
Wire this behind any HTTP framework (FastAPI/Flask) 1:1 — the facade
itself stays framework-free so the engine has no web dependency.

Lenient-binding rules reproduced:
- limit/skip: non-integer values are IGNORED (option_ignore_error,
  deser.rs:7-13) -> defaults apply.
- start/end: µs-epoch ints, or numeric strings (deser.rs:160-196's
  visit_str). Invalid values are ignored rather than 500ing — a
  documented deviation (the reference panics in the visitor).
- minDuration/maxDuration: "100us"/"100ms"/"1s" strings
  (deser.rs:241-252 via functions.time.parse_duration_us); parse
  failures are ignored (OptionDurationVisitor .ok(), deser.rs:207-212).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Mapping

from pyspark.sql import DataFrame, SparkSession

from duo_spark.functions.time import parse_duration_us
from duo_spark.operators import traces as trace_ops
from duo_spark.operators.logs import (
    DEFAULT_LOG_LIMIT,
    DEFAULT_STATS_LIMIT,
    field_stats as field_stats_op,
    search_logs,
)
from duo_spark.web.serialize import jaeger_data, serialize_trace

#: route-table parity with duo/src/web/mod.rs:72-82
ROUTES = {
    "/api/traces": "list_traces",
    "/api/traces/:id": "get_trace",
    "/api/services": "services",
    "/api/services/:service/operations": "operations",
    "/api/logs": "list_logs",
    "/api/logs/schema": "log_schema",
    "/api/logs/stats/:field": "field_stats",
    "/stats": "stats",
}

#: fixed log columns (everything else is a promoted user field —
#: serialized flattened, serde(flatten) in duo/src/models.rs:49-50)
LOG_CORE_COLUMNS = (
    "process_id", "time", "trace_id", "span_id", "level",
    "target", "file", "line", "message",
)


class NotFound(Exception):
    """Maps to HTTP 404 (unknown field / unparsable trace id)."""


def _opt_int(v: Any) -> int | None:
    """option_ignore_error (deser.rs:7-13): garbage -> None."""
    if v is None or isinstance(v, bool):
        return None
    try:
        return int(v)
    except (TypeError, ValueError):
        return None


def _opt_us(v: Any) -> int | None:
    """option_miscrosecond (deser.rs:129-196): µs int or numeric
    string; garbage -> None (lenient deviation, see module doc)."""
    return _opt_int(v)


def _opt_duration_us(v: Any) -> int | None:
    """option_duration (deser.rs:198-252): '100us'/'100ms'/'1s'."""
    if v is None:
        return None
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return int(v)
    if isinstance(v, str):
        return parse_duration_us(v)
    return None


@dataclass
class QueryService:
    """Bind HTTP-shaped params to engine queries over one log table,
    one span table, and the (tiny) process registry.

    ``processes`` is the process.json registry content:
    pid -> {"id", "service_name", "tags"} (duo/src/memory.rs:141-148).

    ``trace_frame()`` returns the trace-ready frame the trace routes
    filter: every span with its correlated logs (``Generation.traces``
    checkpoints one per store version). Without it each trace request
    correlates ``spans`` with ``logs`` itself.

    ``end_lease()`` ends the lease on the engine generation the frames
    belong to; exiting ``with service:`` calls it once.
    """

    spark: SparkSession
    logs: DataFrame
    spans: DataFrame
    processes: dict[str, dict[str, Any]] = field(default_factory=dict)
    trace_frame: Callable[[], DataFrame] | None = None
    end_lease: Callable[[], None] | None = None

    def __enter__(self) -> "QueryService":
        return self

    def __exit__(self, *exc: Any) -> None:
        end, self.end_lease = self.end_lease, None
        if end is not None:
            end()

    # ------------------------------------------------------------ logs --

    def list_logs(self, params: Mapping[str, Any]) -> list[dict[str, Any]]:
        """GET /api/logs (duo/src/web/logs.rs:101-115) — a plain JSON
        array of Log objects (no Jaeger envelope), time µs, user fields
        flattened to top level."""
        rows = search_logs(
            self.logs,
            service=params.get("service"),
            expr=params.get("expr") or None,
            start_us=_opt_us(params.get("start")),
            end_us=_opt_us(params.get("end")),
            skip=_opt_int(params.get("skip")) or 0,
            limit=_opt_int(params.get("limit")) or DEFAULT_LOG_LIMIT,
        ).collect()
        return [self._log_json(r.asDict(recursive=True)) for r in rows]

    @staticmethod
    def _log_json(d: dict[str, Any]) -> dict[str, Any]:
        """One log row -> the reference Log serde shape
        (duo/src/models.rs:34-51): core fields by name, message never
        null, everything else flattened."""
        out = {
            "process_id": d.get("process_id"),
            "span_id": d.get("span_id"),
            "trace_id": d.get("trace_id"),
            "level": d.get("level"),
            "target": d.get("target"),
            "file": d.get("file"),
            "line": d.get("line"),
            "time": d.get("time"),
            "message": d.get("message") or "",
        }
        for k, v in d.items():
            if k not in LOG_CORE_COLUMNS:
                out[k] = v
        return out

    def log_schema(self) -> list[dict[str, Any]]:
        """GET /api/logs/schema (duo/src/web/logs.rs:37-39) — the
        current (possibly drift-merged) log schema as Arrow-ish field
        descriptors."""
        return [
            {"name": f.name, "data_type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in self.logs.schema.fields
        ]

    def field_stats(self, fld: str, params: Mapping[str, Any]) -> list[dict[str, Any]]:
        """GET /api/logs/stats/:field (duo/src/web/logs.rs:64-98) —
        [{value, count}] top-N by count desc; NotFound if the field is
        not in the schema (the reference's 404, logs.rs:69)."""
        try:
            rows = field_stats_op(
                self.logs,
                fld,
                service=params.get("service"),
                expr=params.get("expr") or None,
                start_us=_opt_us(params.get("start")),
                end_us=_opt_us(params.get("end")),
                skip=_opt_int(params.get("skip")) or 0,
                limit=_opt_int(params.get("limit")) or DEFAULT_STATS_LIMIT,
            ).collect()
        except KeyError as e:
            raise NotFound(f"Field {fld} not exists") from e
        return [{"value": r.value, "count": r["count"]} for r in rows]

    # ---------------------------------------------------------- traces --

    def list_traces(self, params: Mapping[str, Any]) -> dict[str, Any]:
        """GET /api/traces (duo/src/web/trace.rs:36-41 ->
        services.rs:13-94) — full Jaeger envelope."""
        admitted = trace_ops.filter_traces(
            self._traces(),
            service=params.get("service"),
            operation=params.get("operation") or None,
            start_us=_opt_us(params.get("start")),
            end_us=_opt_us(params.get("end")),
            min_duration_us=_opt_duration_us(params.get("minDuration")),
            max_duration_us=_opt_duration_us(params.get("maxDuration")),
            limit=_opt_int(params.get("limit")) or trace_ops.DEFAULT_TRACE_LIMIT,
        )
        return self._shape_traces(admitted)

    def get_trace(self, trace_id: Any) -> dict[str, Any]:
        """GET /api/traces/:id (duo/src/web/trace.rs:62-77) — one
        trace's envelope; empty data when the id has no spans;
        NotFound when the id doesn't parse as u64 (the 404 arm)."""
        tid = _opt_int(trace_id)
        if tid is None:
            raise NotFound(f"trace {trace_id} not found")
        traces = self._traces()
        return self._shape_traces(traces.filter(traces["trace_id"] == tid))

    def _traces(self) -> DataFrame:
        """Spans with their correlated logs (J1+A3): a log joins its
        span by ``span_id`` alone, whatever its own ``trace_id``."""
        if self.trace_frame is not None:
            return self.trace_frame()
        return trace_ops.correlate_span_logs(self.spans, self.logs)

    def _shape_traces(self, enriched: DataFrame) -> dict[str, Any]:
        """Shared tail of the two trace endpoints: group the BOUNDED
        admitted spans driver-side and serialize (services.rs:78-93).
        """
        by_trace: dict[int, list[dict[str, Any]]] = {}
        core = ("time", "level", "message", "target", "file", "line")
        for row in enriched.collect():
            d = row.asDict(recursive=True)
            # core keys by name; every other struct field is a drifted
            # user-field column -> the serializer's fields map
            # (models.rs:51 + serialize.rs:173)
            d["span_logs"] = [
                {
                    **{k: lg.get(k) for k in core},
                    "fields": {
                        k: v for k, v in lg.items()
                        if k not in core and v is not None
                    },
                }
                for lg in (d.get("span_logs") or [])
            ]
            by_trace.setdefault(d["trace_id"], []).append(d)
        out = []
        # deterministic trace order: newest root start first (the
        # reference's HashMap-order truncation is a documented bug)
        def _trace_key(item):
            tid, spans = item
            return (-max(s["start"] for s in spans), -tid)

        for tid, spans in sorted(by_trace.items(), key=_trace_key):
            spans.sort(key=lambda s: s["start"])
            used = {s["process_id"] for s in spans if s.get("process_id")}
            out.append(
                serialize_trace(
                    tid,
                    spans,
                    {p: self.processes[p] for p in sorted(used) if p in self.processes},
                )
            )
        return jaeger_data(out)

    # -------------------------------------------------------- registry --

    def services(self) -> dict[str, Any]:
        """GET /api/services (duo/src/web/trace.rs:44-49) — distinct
        service names from the process registry
        (duo/src/memory.rs service_names)."""
        names = sorted({p["service_name"] for p in self.processes.values()})
        return jaeger_data(names)

    def operations(self, service: str) -> dict[str, Any]:
        """GET /api/services/:service/operations
        (duo/src/web/trace.rs:52-59 -> services.rs:132-153, A1)."""
        rows = trace_ops.distinct_operations(self.spans, service).collect()
        return jaeger_data(sorted(r.name for r in rows))

    def stats(self) -> dict[str, Any]:
        """GET /stats (duo/src/web/mod.rs:94-102, a stub there too)."""
        return {"process": self.processes, "logs": 0, "spans": 0}
