"""Query-service facade golden tests: request params dict in, exact
endpoint JSON out, for every route in duo/src/web/mod.rs:72-82."""

from __future__ import annotations

import json

import pytest

from duo_spark.schemas import LOG_CORE_SCHEMA, SPAN_SCHEMA
from duo_spark.web.api import ROUTES, NotFound, QueryService

BASE = 1_700_000_000_000_000

PROCESSES = {
    "web-0": {"id": "web-0", "service_name": "web", "tags": {"host": "h1"}},
    "api-0": {"id": "api-0", "service_name": "api", "tags": {}},
}


@pytest.fixture(scope="module")
def svc(spark):
    spans = spark.createDataFrame(
        [
            # trace 1: root (web) + child (api) with an ERROR log on the child
            (10, None, 1, "GET /", "web-0", BASE, BASE + 1000, json.dumps({"busy": "3us"})),
            (11, 10, 1, "db.query", "api-0", BASE + 100, BASE + 600, None),
            # trace 2: root only, newer, not intact would be end=None but
            # merge only releases intact spans — keep it intact
            (20, None, 2, "GET /x", "web-0", BASE + 5000, BASE + 5400, None),
        ],
        SPAN_SCHEMA,
    )
    logs = spark.createDataFrame(
        [
            ("api-0", BASE + 200, 1, 11, "ERROR", "db", "db.rs", 7, "boom"),
            ("web-0", BASE + 50, 1, 10, "INFO", "http", None, None, "hello"),
            ("web-0", BASE + 5100, 2, 20, "INFO", "http", None, None, "xpage"),
        ],
        LOG_CORE_SCHEMA,
    )
    return QueryService(spark, logs=logs, spans=spans, processes=PROCESSES)


def test_route_table_parity(svc):
    """Every reference route has a bound facade method."""
    for route, method in ROUTES.items():
        assert callable(getattr(svc, method)), route


def test_list_logs_golden(svc):
    got = svc.list_logs({"service": "web", "limit": "10"})
    assert got == [
        {
            "process_id": "web-0", "span_id": 20, "trace_id": 2, "level": "INFO",
            "target": "http", "file": None, "line": None, "time": BASE + 5100,
            "message": "xpage",
        },
        {
            "process_id": "web-0", "span_id": 10, "trace_id": 1, "level": "INFO",
            "target": "http", "file": None, "line": None, "time": BASE + 50,
            "message": "hello",
        },
    ]


def test_list_logs_lenient_params(svc):
    """Garbage limit/skip/start/end must be ignored (deser.rs
    option_ignore_error), not crash."""
    all_rows = svc.list_logs({"service": "web"})
    lenient = svc.list_logs(
        {"service": "web", "limit": "bogus", "skip": None, "start": "junk", "end": []}
    )
    assert lenient == all_rows


def test_list_logs_keyword_fallback(svc):
    """Unparsable expr falls back to message ILIKE (logs.rs:54)."""
    got = svc.list_logs({"service": "api", "expr": "BOO"})
    assert [g["message"] for g in got] == ["boom"]


def test_field_stats_golden_and_404(svc):
    got = svc.field_stats("level", {"service": ""})
    assert got == [{"value": "INFO", "count": 2}, {"value": "ERROR", "count": 1}]
    with pytest.raises(NotFound):
        svc.field_stats("nope", {"service": ""})


def test_log_schema_lists_core_fields(svc):
    names = [f["name"] for f in svc.log_schema()]
    for core in ("process_id", "time", "level", "message"):
        assert core in names


def test_list_traces_golden(svc):
    env = svc.list_traces({"service": "web"})
    assert set(env) == {"data", "total", "limit", "offset", "errors"}
    assert env["total"] == 0 and env["errors"] is None
    data = env["data"]
    # newest root first (deterministic — fixes services.rs:78-81)
    assert [t["traceID"] for t in data] == ["2", "1"]
    t1 = data[1]
    spans = {s["spanID"]: s for s in t1["spans"]}
    assert set(spans) == {"10", "11"}
    child = spans["11"]
    assert child["references"] == [
        {"refType": "CHILD_OF", "traceID": "1", "spanID": "10"}
    ]
    # ERROR-correlated span gets the injected error=true tag
    assert {"key": "error", "type": "bool", "value": True} in child["tags"]
    assert child["logs"][0]["fields"][0] == {
        "key": "message", "type": "string", "value": "boom"
    }
    # root span keeps its stored (ingest-formatted) tags
    root = spans["10"]
    assert {"key": "busy", "type": "string", "value": "3us"} in root["tags"]
    assert root["startTime"] == BASE and root["duration"] == 1000
    # only referenced processes included, serialized shape
    assert t1["processes"]["api-0"] == {
        "id": "api-0", "serviceName": "api",
        "tags": [],
    }


def test_list_traces_duration_filter(svc):
    """minDuration as '700us' admits only trace 1 (duration 1000)."""
    env = svc.list_traces({"service": "web", "minDuration": "700us"})
    assert [t["traceID"] for t in env["data"]] == ["1"]
    # unparsable duration is ignored (OptionDurationVisitor .ok())
    env2 = svc.list_traces({"service": "web", "minDuration": "7 parsecs"})
    assert [t["traceID"] for t in env2["data"]] == ["2", "1"]


def test_get_trace_golden(svc):
    env = svc.get_trace("1")
    assert [t["traceID"] for t in env["data"]] == ["1"]
    assert svc.get_trace(999)["data"] == []
    with pytest.raises(NotFound):
        svc.get_trace("not-a-u64")


def test_get_trace_returns_only_the_asked_trace(spark, spans_df, logs_df):
    """Every span /api/traces/:id returns carries the asked trace id,
    and the trace's whole span set comes back."""
    from pyspark.sql import functions as F

    svc = QueryService(spark, logs=logs_df, spans=spans_df)
    tid = spans_df.select("trace_id").first()["trace_id"]
    data = svc.get_trace(tid)["data"]
    assert [t["traceID"] for t in data] == [str(tid)]
    got = {int(s["spanID"]) for s in data[0]["spans"]}
    assert all(s["traceID"] == str(tid) for s in data[0]["spans"])
    want = {r.id for r in spans_df.filter(F.col("trace_id") == tid).collect()}
    assert got == want


def test_span_logs_join_by_span_id_alone(spark):
    """A log joins its span by span_id whatever its own trace_id says
    (DEVIATIONS #25): both trace routes show it, and list_traces does
    not depend on which other traces are admitted."""
    spans = spark.createDataFrame(
        [
            (10, None, 1, "GET /", "web-0", BASE, BASE + 1000, None),
            (20, None, 2, "GET /x", "web-0", BASE + 5000, BASE + 5400, None),
        ],
        SPAN_SCHEMA,
    )
    logs = spark.createDataFrame(
        [
            ("web-0", BASE + 50, 1, 10, "INFO", "http", None, None, "own"),
            # span 10's log, stamped with trace 2's id
            ("web-0", BASE + 60, 2, 10, "ERROR", "http", None, None, "stray"),
        ],
        LOG_CORE_SCHEMA,
    )
    svc = QueryService(spark, logs=logs, spans=spans, processes=PROCESSES)

    def messages(env, tid):
        (trace,) = [t for t in env["data"] if t["traceID"] == str(tid)]
        (span,) = trace["spans"]
        return sorted(f["value"] for lg in span["logs"] for f in lg["fields"]
                      if f["key"] == "message")

    alone = svc.list_traces({"start": str(BASE), "end": str(BASE + 10)})
    assert [t["traceID"] for t in alone["data"]] == ["1"]
    for env in (svc.get_trace(1), alone, svc.list_traces({})):
        assert messages(env, 1) == ["own", "stray"]
    assert messages(svc.list_traces({}), 2) == []


def test_services_and_operations(svc):
    assert svc.services()["data"] == ["api", "web"]
    assert svc.operations("web")["data"] == ["GET /", "GET /x"]
    assert svc.operations("api")["data"] == ["db.query"]


def test_stats_envelope(svc):
    got = svc.stats()
    assert got["process"] == PROCESSES and got["logs"] == 0 and got["spans"] == 0


def test_get_trace_drifted_fields_golden(spark):
    """VERDICT r6 #6 — the COMPOSED drifted-fields path: a log table
    carrying flattened user-field columns (the ingest bridge's dynamic
    schema, duo/src/arrow.rs:57-92) flows through trace correlation
    into the Jaeger log serializer, which must emit them as typed
    {key,type,value} entries (serialize.rs:156-180 fields.extend) with
    the core columns promoted by NAME only — never duplicated as user
    fields — and `file` rendered as "file:line"."""
    from pyspark.sql import types as T

    from duo_spark.schemas import LOG_CORE_SCHEMA

    spans = spark.createDataFrame(
        [(10, None, 1, "GET /", "web-0", BASE, BASE + 1000, None)],
        SPAN_SCHEMA,
    )
    drifted = T.StructType(
        list(LOG_CORE_SCHEMA.fields)
        + [
            T.StructField("user_id", T.LongType()),
            T.StructField("region", T.StringType()),
            T.StructField("is_retry", T.BooleanType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    logs = spark.createDataFrame(
        [
            (
                "web-0", BASE + 50, 1, 10, "INFO", "http", "app.rs", 12,
                "hello", 7, "eu-west", True, 0.25,
            ),
            # second log: drifted columns null -> absent from fields
            (
                "web-0", BASE + 60, 1, 10, "WARN", "http", None, None,
                "later", None, None, None, None,
            ),
        ],
        drifted,
    )
    svc = QueryService(spark, logs=logs, spans=spans, processes=PROCESSES)
    env = svc.get_trace(1)
    span = env["data"][0]["spans"][0]
    by_time = {lg["timestamp"]: lg["fields"] for lg in span["logs"]}

    first = by_time[BASE + 50]
    by_key = {f["key"]: f for f in first}
    # core promotions by name (typed per serialize.rs:40-68)
    assert by_key["message"] == {"key": "message", "type": "string", "value": "hello"}
    assert by_key["level"] == {"key": "level", "type": "string", "value": "INFO"}
    assert by_key["target"] == {"key": "target", "type": "string", "value": "http"}
    assert by_key["file"] == {"key": "file", "type": "string", "value": "app.rs:12"}
    # drifted user fields arrive TYPED, not stringified
    assert by_key["user_id"] == {"key": "user_id", "type": "int64", "value": 7}
    assert by_key["region"] == {"key": "region", "type": "string", "value": "eu-west"}
    assert by_key["is_retry"] == {"key": "is_retry", "type": "bool", "value": True}
    assert by_key["score"] == {"key": "score", "type": "int64", "value": 0.25}
    # core columns are never ALSO emitted as raw column names
    # (time/span_id/trace_id/process_id/line are envelope data, not fields)
    for excluded in ("time", "span_id", "trace_id", "process_id", "line"):
        assert excluded not in by_key
    # null drifted values vanish instead of emitting null-valued fields
    second_keys = {f["key"] for f in by_time[BASE + 60]}
    assert second_keys == {"message", "level", "target"}
