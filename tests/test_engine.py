"""Whole-stack test: socket ingest -> streaming pipelines -> store ->
query service responses (the switch-from-the-reference story)."""

from __future__ import annotations

import uuid

import pytest

from duo_spark.engine import DuoEngine
from duo_spark.streaming.ingest_server import IngestClient
from duo_spark.streaming.pipeline import _scratch

BASE = 1_700_000_000_000_000


@pytest.fixture(params=[False, True], ids=["persist", "memory_mode"])
def engine(spark, request):
    eng = DuoEngine(
        spark,
        _scratch("engine", uuid.uuid4().hex),
        memory_mode=request.param,
    )
    yield eng
    eng.stop()


def _ingest_workload(engine):
    host, port = engine.start_ingest(tick_seconds=30)
    client = IngestClient(host, port)
    web = client.register_process("web", {"host": "h1"})
    api = client.register_process("api")
    assert (web, api) == ("web-0", "api-0")
    client.record_span(id=10, parent_id=None, trace_id=1, name="GET /",
                       process_id=web, start=BASE, end=None, tags=None)
    client.record_span(id=10, parent_id=None, trace_id=1, name="GET /",
                       process_id=web, start=BASE, end=BASE + 1000, tags=None)
    client.record_span(id=11, parent_id=10, trace_id=1, name="db.query",
                       process_id=api, start=BASE + 100, end=BASE + 600, tags=None)
    client.record_log(process_id=api, time=BASE + 200, trace_id=1, span_id=11,
                      level=1, target="db", file="db.rs", line=7, message="boom")
    client.record_log(process_id=web, time=BASE + 50, trace_id=1, span_id=10,
                      level=3, target="http", file=None, line=None, message="hello")
    client.close()


def test_engine_end_to_end(engine):
    _ingest_workload(engine)
    engine.drain()
    svc = engine.query_service()
    # /api/services from the wire-registered processes
    assert svc.services()["data"] == ["api", "web"]
    # /api/logs
    logs = svc.list_logs({"service": "web"})
    assert [lg["message"] for lg in logs] == ["hello"]
    assert logs[0]["level"] == "INFO"  # proto int 3 decoded at the edge
    # /api/logs/stats/:field
    stats = svc.field_stats("level", {"service": ""})
    assert {s["value"]: s["count"] for s in stats} == {"ERROR": 1, "INFO": 1}
    # /api/traces: one trace, error tag injected from the ERROR log
    env = svc.list_traces({"service": "web"})
    assert [t["traceID"] for t in env["data"]] == ["1"]
    spans = {s["spanID"]: s for s in env["data"][0]["spans"]}
    assert set(spans) == {"10", "11"}
    assert {"key": "error", "type": "bool", "value": True} in spans["11"]["tags"]
    assert env["data"][0]["processes"]["web-0"]["serviceName"] == "web"
    # /api/services/:service/operations
    assert svc.operations("api")["data"] == ["db.query"]
    # /api/traces/:id
    assert [t["traceID"] for t in svc.get_trace(1)["data"]] == ["1"]


def test_engine_drain_is_incremental(engine):
    """A second ingest + drain adds to (not replaces) the first —
    checkpointed incremental processing, the WAL-recovery semantics."""
    _ingest_workload(engine)
    engine.drain()
    host, port = engine.start_ingest(tick_seconds=30)
    client = IngestClient(host, port)
    client.record_span(id=20, parent_id=None, trace_id=2, name="GET /2",
                       process_id="web-0", start=BASE + 9000, end=BASE + 9500, tags=None)
    client.close()
    engine._server.flush()
    engine.drain()
    svc = engine.query_service()
    env = svc.list_traces({"service": "web"})
    assert [t["traceID"] for t in env["data"]] == ["2", "1"]
