"""Subscriber span lifecycle + HTTP binding: an example app traced
end to end — DuoSubscriber -> ingest bridge -> streaming pipelines ->
store -> real HTTP routes (the full duo-subscriber/duo-server story,
duo-subscriber/src/subscriber.rs:60-230 + duo/src/web/mod.rs:72-93)."""

from __future__ import annotations

import json
import time
import urllib.request
import uuid

import pytest

from duo_spark.engine import DuoEngine
from duo_spark.streaming.pipeline import _scratch
from duo_spark.subscriber import DuoSubscriber


@pytest.fixture
def engine(spark):
    eng = DuoEngine(
        spark, _scratch("sub-engine", uuid.uuid4().hex),
        memory_mode=True,
    )
    yield eng
    eng.stop()


def _get(base: str, path: str):
    try:
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _example_app(sub: DuoSubscriber) -> int:
    """The traced example: a request handler with a nested db call,
    logs at both levels of the span tree, and a failing child span."""
    with sub.span("GET /checkout", route="/checkout") as root:
        sub.log("INFO", "handling request", user=7)
        with sub.span("db.query"):
            sub.log("DEBUG", "SELECT 1")
            time.sleep(0.02)  # busy time attributed to db.query
        try:
            with sub.span("charge.card"):
                raise RuntimeError("card declined")
        except RuntimeError:
            sub.log("ERROR", "payment failed")
        return root.trace_id


def test_subscriber_traces_example_app_through_http(engine):
    host, port = engine.start_ingest(tick_seconds=30)
    sub = DuoSubscriber(host, port, "checkout", tags={"version": "1"})
    assert sub.process_id == "checkout-0"
    trace_id = _example_app(sub)
    sub.close()
    assert sub.dropped == 0
    engine.drain()

    h, p = engine.serve_http()
    base = f"http://{h}:{p}"

    status, services = _get(base, "/api/services")
    assert status == 200 and services["data"] == ["checkout"]

    status, ops = _get(base, "/api/services/checkout/operations")
    assert ops["data"] == ["GET /checkout", "charge.card", "db.query"]

    status, env = _get(base, f"/api/traces/{trace_id}")
    assert status == 200
    (trace,) = env["data"]
    spans = {s["operationName"]: s for s in trace["spans"]}
    assert set(spans) == {"GET /checkout", "charge.card", "db.query"}
    # lifecycle: parenthood and same trace for all three
    assert all(s["traceID"] == str(trace_id) for s in spans.values())
    root = spans["GET /checkout"]
    child_refs = {
        s["operationName"]: s["references"] for s in spans.values()
        if s["operationName"] != "GET /checkout"
    }
    for refs in child_refs.values():
        assert refs and refs[0]["spanID"] == root["spanID"]
    # busy/idle tags land on the CLOSE record (subscriber.rs:223-224)
    # and ingest renders them as human timing strings (models.rs:106-112);
    # db.query slept 20ms, so its busy time must dominate its idle
    from duo_spark.functions.time import parse_duration_us

    db_tags = {t["key"]: t["value"] for t in spans["db.query"]["tags"]}
    assert parse_duration_us(db_tags["busy"]) >= 15_000
    assert parse_duration_us(db_tags["busy"]) > parse_duration_us(db_tags["idle"])
    # the parent was idle while db.query ran
    root_tags = {t["key"]: t["value"] for t in root["tags"]}
    assert parse_duration_us(root_tags["idle"]) >= 15_000
    # the failing span carries the error tag from __exit__
    charge_tags = {t["key"]: t["value"] for t in spans["charge.card"]["tags"]}
    assert charge_tags["error"] is True

    # /api/logs: subscriber events inherited trace/span ids
    status, logs = _get(base, f"/api/logs?expr=trace_id+%3D+{trace_id}")
    by_msg = {lg["message"]: lg for lg in logs}
    assert set(by_msg) == {"handling request", "SELECT 1", "payment failed"}
    assert by_msg["SELECT 1"]["span_id"] == int(spans["db.query"]["spanID"])
    assert by_msg["handling request"]["trace_id"] == trace_id

    # /api/logs/stats/:field + 404 on unknown field
    status, stats = _get(base, "/api/logs/stats/level")
    assert {s["value"] for s in stats} == {"INFO", "DEBUG", "ERROR"}
    status, err = _get(base, "/api/logs/stats/nope")
    assert status == 404 and "error" in err

    # /api/logs/schema + /stats + unmatched route
    status, schema = _get(base, "/api/logs/schema")
    assert {f["name"] for f in schema} >= {"process_id", "time", "level"}
    status, st = _get(base, "/stats")
    assert status == 200 and "process" in st
    status, _ = _get(base, "/api/nope")
    assert status == 404


def test_subscriber_decorator_and_drop_on_full(engine):
    host, port = engine.start_ingest(tick_seconds=30)
    sub = DuoSubscriber(host, port, "svc", buffer=4)

    @sub.trace("unit.work", kind="job")
    def work(n):
        return n * 2

    assert work(21) == 42
    # saturate the tiny buffer: drops are counted, the app never blocks
    for _ in range(500):
        sub.log("INFO", "spam")
    assert sub.dropped > 0
    sub.close()


def _reference_example_app(sub: DuoSubscriber) -> int:
    """duo-subscriber/examples/main.rs:11-50 replayed verbatim: the
    span tree foo -> {bar -> baz, foz} with the example's exact log
    sequence, levels, and structured fields."""
    sub.log("INFO", "Bootstrap...")
    with sub.span("foo") as root:
        sub.log("INFO", "hello foo!", test=True)
        with sub.span("bar"):
            with sub.span("baz"):
                sub.log("WARN", "hello baz!")
        sub.log("DEBUG", "called bar!")
        with sub.span("foz"):
            sub.log("DEBUG", "hello foz!")
            sub.log("ERROR", "Oops!", flag=1, data="data")
        return root.trace_id


def _normalize_trace(trace: dict) -> list[dict]:
    """Strip volatile values (ids, timestamps, timing strings) from a
    Jaeger trace, keeping everything the reference contract pins:
    operation names, CHILD_OF edges (by parent operation), tag
    key/type (+ value for non-timing tags), and per-span logs with
    their typed fields in order."""
    id2op = {s["spanID"]: s["operationName"] for s in trace["spans"]}
    out = []
    for s in sorted(trace["spans"], key=lambda s: (s["startTime"], s["operationName"])):
        refs = [
            {"refType": r["refType"], "parent_op": id2op[r["spanID"]],
             "same_trace": r["traceID"] == s["traceID"]}
            for r in s["references"]
        ]
        tags = []
        for t in sorted(s["tags"], key=lambda t: t["key"]):
            tags.append(
                {"key": t["key"], "type": t["type"]}
                if t["key"] in ("busy", "idle")
                else {"key": t["key"], "type": t["type"], "value": t["value"]}
            )
        logs = [
            {f["key"]: (f["type"], f["value"])
             for f in lg["fields"] if f["key"] != "target"}
            for lg in sorted(s["logs"], key=lambda lg: lg["timestamp"])
        ]
        out.append(
            {"op": s["operationName"], "references": refs, "tags": tags,
             "logs": logs, "flags": s["flags"], "duration_zero": s["duration"] == 0,
             "process": s["processID"]}
        )
    return out


def test_subscriber_golden_reference_example(engine):
    """VERDICT r5 #7: the reference's example scenario
    (duo-subscriber/examples/main.rs) driven through the Python
    subscriber, golden-asserted against the full Jaeger JSON —
    CHILD_OF refs, busy/idle tags, ERROR->error=true injection, typed
    structured fields, and message/level promotion into log fields."""
    host, port = engine.start_ingest(tick_seconds=30)
    sub = DuoSubscriber(host, port, "example")
    trace_id = _reference_example_app(sub)
    sub.close()
    assert sub.dropped == 0
    engine.drain()

    h, p = engine.serve_http()
    base = f"http://{h}:{p}"
    status, env = _get(base, f"/api/traces/{trace_id}")
    assert status == 200
    (trace,) = env["data"]

    golden = [
        {
            "op": "foo",
            "references": [],
            "tags": [{"key": "busy", "type": "string"},
                     {"key": "idle", "type": "string"}],
            "logs": [
                {"message": ("string", "hello foo!"),
                 "level": ("string", "INFO"),
                 "test": ("bool", True)},
                {"message": ("string", "called bar!"),
                 "level": ("string", "DEBUG")},
            ],
            "flags": 1, "duration_zero": False, "process": "example-0",
        },
        {
            "op": "bar",
            "references": [{"refType": "CHILD_OF", "parent_op": "foo",
                            "same_trace": True}],
            "tags": [{"key": "busy", "type": "string"},
                     {"key": "idle", "type": "string"}],
            "logs": [],
            "flags": 1, "duration_zero": False, "process": "example-0",
        },
        {
            "op": "baz",
            "references": [{"refType": "CHILD_OF", "parent_op": "bar",
                            "same_trace": True}],
            "tags": [{"key": "busy", "type": "string"},
                     {"key": "idle", "type": "string"}],
            "logs": [
                {"message": ("string", "hello baz!"),
                 "level": ("string", "WARN")},
            ],
            "flags": 1, "duration_zero": False, "process": "example-0",
        },
        {
            "op": "foz",
            "references": [{"refType": "CHILD_OF", "parent_op": "foo",
                            "same_trace": True}],
            # the ERROR log inside foz injects error=true (models.rs:89-94)
            "tags": [{"key": "busy", "type": "string"},
                     {"key": "error", "type": "bool", "value": True},
                     {"key": "idle", "type": "string"}],
            "logs": [
                {"message": ("string", "hello foz!"),
                 "level": ("string", "DEBUG")},
                {"message": ("string", "Oops!"),
                 "level": ("string", "ERROR"),
                 "flag": ("int64", 1),
                 "data": ("string", "data")},
            ],
            "flags": 1, "duration_zero": False, "process": "example-0",
        },
    ]
    assert _normalize_trace(trace) == golden

    # the trace envelope references exactly the one process used
    assert set(trace["processes"]) == {"example-0"}
    assert trace["processes"]["example-0"]["serviceName"] == "example"
    # the span-free "Bootstrap..." event landed as an uncorrelated log
    status, logs = _get(base, "/api/logs?expr=message+%3D+%27Bootstrap...%27")
    assert status == 200 and len(logs) == 1 and logs[0]["trace_id"] is None
