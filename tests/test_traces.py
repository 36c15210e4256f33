"""Trace pipeline operators (SURVEY §2.3 J1-J4, §3.2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from duo_spark.operators.traces import (
    assemble_traces,
    correlate_span_logs,
    distinct_operations,
    enrich_process,
    filter_traces,
    logs_for_traces,
    select_root_spans,
)
from duo_spark.schemas import PROCESS_SCHEMA, SPAN_SCHEMA


def test_filter_traces_roots_and_children(spans_df):
    got = filter_traces(spans_df, service="web", limit=5)
    tids = [r["trace_id"] for r in got.select("trace_id").distinct().collect()]
    assert 0 < len(tids) <= 5
    # every admitted trace's full span set is present
    expected = spans_df.filter(F.col("trace_id").isin(tids)).count()
    assert got.count() == expected
    # all admitted traces have a root matching the service
    roots = got.filter(F.col("parent_id").isNull()).collect()
    assert len(roots) == len(tids)
    assert all(r["process_id"].startswith("web") for r in roots)


def test_filter_traces_duration_predicate(spans_df):
    got = filter_traces(spans_df, min_duration_us=1_000_000, limit=100)
    roots = got.filter(F.col("parent_id").isNull()).collect()
    assert roots and all(r["end"] - r["start"] >= 1_000_000 for r in roots)


def test_filter_traces_operation(spans_df):
    got = filter_traces(spans_df, operation="db.query", limit=100)
    roots = got.filter(F.col("parent_id").isNull()).collect()
    assert all(r["name"] == "db.query" for r in roots)


def test_filter_traces_deterministic_topk(spans_df):
    a = filter_traces(spans_df, limit=3).select("trace_id").distinct().collect()
    b = filter_traces(spans_df, limit=3).select("trace_id").distinct().collect()
    assert sorted(r["trace_id"] for r in a) == sorted(r["trace_id"] for r in b)
    # newest roots win
    roots = select_root_spans(spans_df).orderBy(F.col("start").desc()).limit(3).collect()
    assert sorted(r["trace_id"] for r in a) == sorted(r["trace_id"] for r in roots)


def test_correlate_span_logs_error_flag(spans_df, logs_df):
    enriched = correlate_span_logs(spans_df, logs_df)
    err_span_ids = {
        r["span_id"]
        for r in logs_df.filter(F.col("level") == "ERROR").select("span_id").distinct().collect()
    }
    rows = enriched.collect()
    assert {r["id"] for r in rows if r["error"]} == err_span_ids
    # log counts match
    per_span = {
        r["span_id"]: r["cnt"]
        for r in logs_df.groupBy("span_id").agg(F.count("*").alias("cnt")).collect()
    }
    for r in rows:
        assert r["log_count"] == per_span.get(r["id"], 0)


def test_correlate_span_logs_bounded_pathological_span(spans_df, logs_df):
    """One span with a huge log fanout must yield a BOUNDED span_logs
    array (earliest N by time) while log_count/error_count stay exact."""
    flood_id = spans_df.first()["id"]
    flood = logs_df.limit(1).select(
        F.col("process_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4999))).alias("i"),
        "trace_id",
        "level",
        "target",
        "file",
        "line",
        "message",
    ).select(
        "process_id",
        F.col("i").cast("long").alias("time"),
        "trace_id",
        F.lit(flood_id).cast("long").alias("span_id"),
        "level",
        "target",
        "file",
        "line",
        "message",
    )
    enriched = correlate_span_logs(spans_df, flood, max_logs_per_span=100)
    row = enriched.filter(F.col("id") == flood_id).first()
    assert row["log_count"] == 5000  # exact despite the cap
    assert len(row["span_logs"]) == 100
    assert [lg["time"] for lg in row["span_logs"]] == list(range(100))  # earliest kept


def test_logs_for_traces(spans_df, logs_df):
    sel = filter_traces(spans_df, limit=4)
    got = logs_for_traces(logs_df, sel)
    tids = {r["trace_id"] for r in sel.select("trace_id").distinct().collect()}
    assert {r["trace_id"] for r in got.collect()} <= tids


def test_assemble_traces(spans_df, logs_df):
    traces = assemble_traces(correlate_span_logs(spans_df, logs_df))
    row = traces.filter(F.col("span_count") > 1).first()
    spans = row["spans"]
    starts = [s["start"] for s in spans]
    assert starts == sorted(starts)  # waterfall order
    assert row["trace_start"] == min(starts)


def test_distinct_operations(spans_df):
    ops = {r["name"] for r in distinct_operations(spans_df, service="web").collect()}
    expected = {
        r["name"]
        for r in spans_df.filter(F.col("process_id").startswith("web"))
        .select("name").distinct().collect()
    }
    assert ops == expected


def test_enrich_process(spark, spans_df):
    procs = spark.createDataFrame(
        [("web-0", "web", {"v": "1"}), ("web-1", "web", {"v": "1"}),
         ("worker-0", "worker", None), ("worker-1", "worker", None)],
        PROCESS_SCHEMA,
    )
    got = enrich_process(spans_df, procs)
    assert got.filter(F.col("service_name").isNull()).count() == 0


# --------------------------------------------------------------- new in r4
from duo_spark.operators.traces import (  # noqa: E402
    service_dependencies,
    span_depths,
    trace_waterfall,
)


def _tree_spans(spark):
    """One 4-level chain + a 2-span trace + a duplicated child id
    (partial records pre-merge) + an orphan whose parent never
    arrives."""
    rows = [
        # trace 1: a(root,svc-a) -> b(svc-b) -> c(svc-c) -> d(svc-b)
        (10, None, 1, "a", "svc-a", 100, 500, None),
        (11, 10, 1, "b", "svc-b", 110, 400, None),
        (12, 11, 1, "c", "svc-c", 120, 300, None),
        (13, 12, 1, "d", "svc-b", 130, 200, None),
        # trace 2: root + child recorded TWICE (same id, differing end)
        (20, None, 2, "r", "svc-a", 100, 900, None),
        (21, 20, 2, "x", "svc-b", 150, 300, None),
        (21, 20, 2, "x", "svc-b", 150, 350, None),
        # orphan: parent 99 never arrives
        (30, 99, 3, "lost", "svc-z", 100, 200, None),
    ]
    return spark.createDataFrame(rows, SPAN_SCHEMA)


def test_service_dependencies_edges(spark):
    got = {
        (r["parent_service"], r["child_service"]): (
            r["calls"], r["sum_duration_us"], r["max_duration_us"])
        for r in service_dependencies(_tree_spans(spark)).collect()
    }
    assert got[("svc-a", "svc-b")] == (3, 290 + 150 + 200, 290)  # 11 + dup 21
    assert got[("svc-b", "svc-c")] == (1, 180, 180)
    assert got[("svc-c", "svc-b")] == (1, 70, 70)
    # orphan child's parent is absent -> no edge
    assert ("svc-z", "svc-z") not in got and len(got) == 3


def test_span_depths_bfs(spark):
    got = {(r["id"], r["depth"]) for r in span_depths(_tree_spans(spark)).collect()}
    assert got == {(10, 0), (11, 1), (12, 2), (13, 3), (20, 0), (21, 1)}
    # orphan 30 unreachable from any root -> absent
    # max_depth truncates the walk
    shallow = {(r["id"], r["depth"]) for r in span_depths(_tree_spans(spark), max_depth=2).collect()}
    assert shallow == {(10, 0), (11, 1), (12, 2), (20, 0), (21, 1)}


def test_trace_waterfall_order_and_depth(spark):
    rows = trace_waterfall(_tree_spans(spark)).orderBy("trace_id", "pos").collect()
    t1 = [(r["pos"], r["id"], r["depth"]) for r in rows if r["trace_id"] == 1]
    assert t1 == [(1, 10, 0), (2, 11, 1), (3, 12, 2), (4, 13, 3)]
    # duplicate-id partials both appear, tie broken by end
    t2 = [(r["pos"], r["id"], r["duration_us"]) for r in rows if r["trace_id"] == 2]
    assert t2 == [(1, 20, 800), (2, 21, 150), (3, 21, 200)]


def test_trace_waterfall_on_fixture(spans_df):
    wf = trace_waterfall(spans_df)
    assert wf.count() == spans_df.count()
    # pos is 1..n_spans within each trace; every root has depth 0
    per = wf.groupBy("trace_id").agg(
        F.count("*").alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn"))
    assert per.filter((F.col("mx") != F.col("n")) | (F.col("mn") != 1)).count() == 0
    assert wf.filter(F.col("parent_id").isNull() & (F.col("depth") != 0)).count() == 0
    assert wf.filter(F.col("parent_id").isNotNull() & (F.col("depth") != 1)).count() == 0


def test_trace_waterfall_methods_agree(spark, spans_df):
    """The default BFS waterfall and the one-shuffle barrier-free
    'local' HOF formulation must produce identical rows."""
    cols = ["trace_id", "pos", "id", "depth", "duration_us"]
    a = sorted(map(tuple, trace_waterfall(spans_df).select(cols).collect()))
    b = sorted(map(tuple, trace_waterfall(spans_df, method="local").select(cols).collect()))
    assert a == b and len(a) > 0
    import pytest as _pytest
    with _pytest.raises(ValueError, match="method"):
        trace_waterfall(spans_df, method="nope")


def test_trace_waterfall_local_semantics(spark):
    """'local' shares orphan/max_depth/dup-id semantics with BFS on
    the corrupt-tree fixture."""
    rows = trace_waterfall(_tree_spans(spark), method="local").orderBy(
        "trace_id", "pos").collect()
    t1 = [(r["pos"], r["id"], r["depth"]) for r in rows if r["trace_id"] == 1]
    assert t1 == [(1, 10, 0), (2, 11, 1), (3, 12, 2), (4, 13, 3)]
    t2 = [(r["pos"], r["id"], r["duration_us"]) for r in rows if r["trace_id"] == 2]
    assert t2 == [(1, 20, 800), (2, 21, 150), (3, 21, 200)]
    assert not [r for r in rows if r["trace_id"] == 3]  # orphan dropped
    shallow = trace_waterfall(_tree_spans(spark), max_depth=2, method="local").collect()
    assert {r["id"] for r in shallow} == {10, 11, 12, 20, 21}


def test_span_depths_distincts_are_load_bearing(spark, sf_dir):
    """The driver's synthetic lineitem carries duplicate
    (orderkey, linenumber) pairs, so spans_view has duplicate span ids
    — span_depths' per-level distincts are semantics, not overhead: a
    dedup-free BFS measured 0.4s faster and returned 1.09M rows for
    750k spans at sf0.1. Pin: one (id, depth) row per distinct id, and
    the waterfall returns exactly one row per INPUT span row."""
    from duo_spark.queries import spans_view

    sv = spans_view(spark, sf_dir)
    n_rows = sv.count()
    n_ids = sv.select("id").distinct().count()
    assert n_ids < n_rows  # the duplicate-id property actually holds
    d = span_depths(sv)
    assert d.count() == d.select("id").distinct().count()
    assert trace_waterfall(sv).count() == n_rows


# ---------------------------------------------------------------------
# service_paths / top_service_paths (round 5)
# ---------------------------------------------------------------------

def test_service_paths_multilevel_tree(spark):
    """3-level tree with an orphan branch: paths follow the parent
    chain, orphans (unreachable within max_depth or missing parents)
    are absent, duplicate (path, depth) per id collapses."""
    rows = [
        # id, parent, trace, service
        (1, None, 1, "api"),
        (2, 1, 1, "auth"),
        (3, 1, 1, "db"),
        (4, 2, 1, "db"),
        (5, 99, 1, "ghost"),       # missing parent -> dropped
        (10, None, 2, "api"),
        (11, 10, 2, "auth"),
        (12, 11, 2, "db"),
    ]
    spans = spark.createDataFrame(
        [(i, p, t, s, s, 0, 1) for i, p, t, s in rows],
        "id long, parent_id long, trace_id long, process_id string, name string, start long, end long",
    )
    from duo_spark.operators.traces import service_paths, top_service_paths

    got = {(r.id): (r.path, r.depth) for r in service_paths(spans).collect()}
    assert got == {
        1: ("api", 0), 2: ("api>auth", 1), 3: ("api>db", 1),
        4: ("api>auth>db", 2),
        10: ("api", 0), 11: ("api>auth", 1), 12: ("api>auth>db", 2),
    }
    top = [(r.path, r.depth, r.n) for r in top_service_paths(spans, k=3).collect()]
    assert top == [("api", 0, 2), ("api>auth", 1, 2), ("api>auth>db", 2, 2)]


def test_service_paths_depth_bound(spark):
    """A 5-deep chain with max_depth=2 keeps only depths 0-2."""
    rows = [(i, i - 1 if i else None, 1, f"s{i}") for i in range(5)]
    spans = spark.createDataFrame(
        [(i, p, t, s, s, 0, 1) for i, p, t, s in rows],
        "id long, parent_id long, trace_id long, process_id string, name string, start long, end long",
    )
    from duo_spark.operators.traces import service_paths

    got = sorted(r.depth for r in service_paths(spans, max_depth=2).collect())
    assert got == [0, 1, 2]
