"""Trace query operators — the `/api/traces` family (SURVEY §2.3 J1-J4,
§2.4 A1/A3, §3.2).

The reference does trace assembly in Rust application code
(duo/src/web/services.rs:13-130): query spans, hash-group by trace_id,
admit a trace when its ROOT span passes the predicates, fetch logs for
admitted traces, correlate logs per span, flag errors. Here the whole
thing is ONE distributed job:

  roots(filtered) --left_semi--> spans --left_outer--> logs(span-keyed)
     |                                        |
  top-k trace selection               error counting (A3)

Scale notes:
- Root selection + limit happens on the (small) root subset; the
  admitted trace_id set is bounded by ``limit`` (default 20), so the
  semi-join side is broadcastable BY CONSTRUCTION — never a shuffle of
  the full span table.
- Log correlation shuffles logs once on span_id; ERROR counting is a
  map-side partial agg.
- The reference admits children only if they arrive after their root in
  scan order (services.rs:34-37, order-dependent) and truncates traces
  in HashMap order (services.rs:78-81, nondeterministic). We implement
  the intended semantics: set-based admission, deterministic top-k by
  root start time desc (see DEVIATIONS.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duo_spark.operators.materialize import (
    checkpoint,
    persist_count,
    release,
    together,
)

DEFAULT_TRACE_LIMIT = 20  # duo/src/web/services.rs:11


def select_root_spans(
    spans: DataFrame,
    service: str | None = None,
    operation: str | None = None,
    start_us: int | None = None,
    end_us: int | None = None,
    min_duration_us: int | None = None,
    max_duration_us: int | None = None,
) -> DataFrame:
    """Root spans (parent_id IS NULL) passing the trace-admission
    predicates — duo/src/web/services.rs:38-66. One conjunction, one
    ``filter``: each ``filter`` call is a Dataset built and analyzed."""
    cond = F.col("parent_id").isNull()
    if service:
        cond &= F.col("process_id").startswith(service)
    if operation:
        cond &= F.col("name") == operation
    if start_us is not None:
        cond &= F.col("start") >= F.lit(start_us)
    if end_us is not None:
        cond &= F.col("start") <= F.lit(end_us)
    dur = F.col("end") - F.col("start")
    if min_duration_us is not None:
        cond &= dur >= F.lit(min_duration_us)
    if max_duration_us is not None:
        cond &= dur <= F.lit(max_duration_us)
    return spans.filter(cond)


def filter_traces(
    spans: DataFrame,
    service: str | None = None,
    operation: str | None = None,
    start_us: int | None = None,
    end_us: int | None = None,
    min_duration_us: int | None = None,
    max_duration_us: int | None = None,
    limit: int = DEFAULT_TRACE_LIMIT,
) -> DataFrame:
    """J2 — all spans of the top-``limit`` admitted traces.

    Trace selection is deterministic: newest root `start` first (ties
    by trace_id desc). The admitted id set (≤ limit rows) is broadcast
    into a left-semi join, so the big span table shuffles zero times.
    """
    roots = select_root_spans(
        spans, service, operation, start_us, end_us, min_duration_us, max_duration_us
    )
    # the admitted side is aliased to a fresh column: a semi-join whose
    # right side derives from the SAME DataFrame would otherwise carry
    # conflicting attribute ids (self-join over one memory-sink view)
    admitted = (
        roots.orderBy(F.col("start").desc(), F.col("trace_id").desc())
        .limit(limit)
        .select(F.col("trace_id").alias("admitted_trace_id"))
    )
    return spans.join(
        F.broadcast(admitted),
        spans["trace_id"] == admitted["admitted_trace_id"],
        "left_semi",
    )


def logs_for_traces(logs: DataFrame, trace_ids: DataFrame) -> DataFrame:
    """J3 — logs belonging to the admitted traces
    (duo/src/web/services.rs:68-76 builds `trace_id IN (...)`; a
    broadcast semi-join is the scale-stable equivalent)."""
    return logs.join(
        F.broadcast(trace_ids.select("trace_id").distinct()), "trace_id", "left_semi"
    )


#: default bound on logs materialized per span (counts stay exact).
MAX_LOGS_PER_SPAN = 1000


def correlate_span_logs(
    spans: DataFrame, logs: DataFrame, max_logs_per_span: int = MAX_LOGS_PER_SPAN
) -> DataFrame:
    """J1 + A3 — attach per-span log rollups and the error flag.

    Reference: duo/src/models.rs:80-94 — for each span, logs with
    `log.span_id == span.id`; if any is ERROR level, tag error=true.
    Aggregating the log side BEFORE the join keeps the join input
    small (one row per span_id) and lets Spark broadcast it when the
    admitted log set is bounded.

    The materialized log array is capped at ``max_logs_per_span``
    (time-sorted, earliest kept) so one pathological span with
    millions of logs cannot become a single giant row at scale — the
    reference has no such bound (models.rs:80-94 collects all) but an
    unbounded collect_list is a deliberate-deviation fix here (see
    DEVIATIONS.md). ``log_count``/``error_count`` stay EXACT — they
    aggregate before the slice.
    """
    # span_logs structs carry the full log shape the Jaeger serializer
    # renders (serialize.rs:156-180): core columns plus every drifted
    # user-field column present on the log side (ingest flattens them
    # to top level, models.rs:51 fields). time leads the struct so
    # sort_array keeps the reference's chronological order.
    core_tail = [c for c in ("level", "message", "target", "file", "line")
                 if c in logs.columns]
    extra = sorted(
        c for c in logs.columns
        if c not in ("process_id", "time", "trace_id", "span_id", "date",
                     "hour", "minute", *core_tail)
    )
    per_span = logs.filter(F.col("span_id").isNotNull()).groupBy("span_id").agg(
        F.count(F.lit(1)).alias("log_count"),
        F.sum(F.when(F.col("level") == "ERROR", 1).otherwise(0)).alias("error_count"),
        F.slice(
            F.sort_array(
                F.collect_list(F.struct("time", *core_tail, *extra))
            ),
            1,
            max_logs_per_span,
        ).alias("span_logs"),
    )
    joined = spans.join(per_span, spans["id"] == per_span["span_id"], "left").drop(
        "span_id"
    )
    return joined.withColumn(
        "error", F.coalesce(F.col("error_count") > 0, F.lit(False))
    ).withColumn("log_count", F.coalesce(F.col("log_count"), F.lit(0)))


def assemble_traces(spans_with_logs: DataFrame) -> DataFrame:
    """Group enriched spans into trace rows (TraceExt,
    duo/src/models.rs:54-58). Span lists are sorted by start time —
    the deterministic waterfall order the Jaeger UI derives."""
    return spans_with_logs.groupBy("trace_id").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.min("start").alias("trace_start"),
        F.max("end").alias("trace_end"),
        F.max(F.col("error").cast("int")).cast("boolean").alias("has_error"),
        F.sort_array(
            F.collect_list(F.struct("start", "id", "parent_id", "name", "process_id", "end"))
        ).alias("spans"),
    )


def distinct_operations(spans: DataFrame, service: str | None = None) -> DataFrame:
    """A1 — distinct span names (operations) per service
    (duo/src/web/services.rs:132-153: GROUP BY name with no aggregates)."""
    out = spans
    if service:
        out = out.filter(F.col("process_id").startswith(service))
    return out.select("name").distinct()


def enrich_process(df: DataFrame, processes: DataFrame) -> DataFrame:
    """J4 — broadcast-join the tiny process registry
    (duo/src/memory.rs:90-100). The registry's ``tags`` column is
    renamed to ``process_tags`` so it can't collide with the span/log
    ``tags`` column and make later F.col("tags") references ambiguous."""
    dim = processes.withColumnRenamed("id", "process_id")
    if "tags" in dim.columns:
        dim = dim.withColumnRenamed("tags", "process_tags")
    return df.join(F.broadcast(dim), "process_id", "left")


def service_dependencies(spans: DataFrame) -> DataFrame:
    """Service dependency graph: one row per (parent_service,
    child_service) edge with call and latency rollups — the service
    map a tracing UI draws from the span tree (the reference stores
    the parent link, duo/src/models.rs:14-26 ``parent_id``, but never
    aggregates it; this is the canonical query over it).

    Scale: ONE equi-join of child spans against (id, process_id) of
    all spans — the parent side is column-pruned to 16 bytes/row
    before the shuffle — then a hash aggregate on the (tiny) service
    pair key with map-side partials. Skew is bounded by the fan-out of
    the hottest single parent span, not by service volume.
    """
    child = spans.filter(F.col("parent_id").isNotNull()).select(
        F.col("parent_id").alias("_pid"),
        F.col("process_id").alias("child_service"),
        (F.col("end") - F.col("start")).alias("_dur"),
    )
    parent = spans.select(
        F.col("id").alias("_pid"), F.col("process_id").alias("parent_service")
    )
    return (
        child.join(parent, "_pid")
        .groupBy("parent_service", "child_service")
        .agg(
            F.count(F.lit(1)).alias("calls"),
            F.sum("_dur").alias("sum_duration_us"),
            F.max("_dur").alias("max_duration_us"),
        )
    )


def span_depths(spans: DataFrame, max_depth: int = 16) -> DataFrame:
    """(id, depth) for every span reachable from a root (parent_id
    NULL = depth 0) — breadth-first over the parent links, one
    equi-join per level with an early exit when a level comes back
    empty, ``max_depth`` as the runaway bound (cycles / orphan chains
    never terminate a naive recursion).

    Scale: the (id, parent_id) child set is localCheckpointed ONCE —
    every BFS round re-reads those 16-byte rows from block storage
    instead of re-scanning source parquet — and each round joins it
    against only the PREVIOUS level's frontier (also checkpointed, so
    lineage stays flat and re-execution can't cascade); real trace
    trees are ≤ ~10 deep, so this is a handful of hash joins, each no
    bigger than the child table. Levels are deduped as they are built:
    duplicate span ids (partial records before a span_merge pass)
    would otherwise fan out each subsequent round multiplicatively.
    Spans whose parent chain never reaches a root (dropped roots,
    cycles) are absent from the output — callers decide whether to
    coalesce them to a sentinel depth; an id recorded with parents at
    DIFFERENT depths (corrupt graph) keeps one row per depth.
    """
    return _bfs_levels(
        spans,
        max_depth,
        root=["id", F.lit(0).alias("depth")],
        child=["id", "parent_id"],
        step=lambda children, frontier, d: children.join(
            frontier.select(F.col("id").alias("parent_id")), "parent_id"
        ).select("id", F.lit(d).alias("depth")),
    )


def _bfs_levels(spans, max_depth, root, child, step) -> DataFrame:
    """Union of the BFS levels over the parent links: level 0 is the
    ``root`` columns of the roots, level d the distinct rows of
    ``step(children, level d-1, d)``, where ``children`` is the
    ``child`` columns of the non-root spans. Stops at the first empty
    level or after ``max_depth`` levels."""
    # the two seed tables are independent — build them concurrently,
    # halving the fixed latency of the two eager jobs
    (frontier, _), children = together(
        lambda: persist_count(
            spans.filter(F.col("parent_id").isNull()).select(*root).distinct()
        ),
        lambda: checkpoint(
            spans.filter(F.col("parent_id").isNotNull()).select(*child)
        ),
    )
    out = frontier
    for d in range(1, max_depth + 1):
        # ONE driver-synchronized job per level: the count both
        # materializes the level and answers the early-exit test;
        # lineage stays effectively flat because each level reads the
        # previous level's in-memory blocks, and max_depth bounds it
        nxt, n = persist_count(step(children, frontier, d).distinct())
        if n == 0:
            release(nxt)
            break
        out, frontier = out.unionByName(nxt), nxt
    return out


def trace_waterfall(
    spans: DataFrame, max_depth: int = 16, method: str = "bfs"
) -> DataFrame:
    """The Jaeger waterfall, engine-side: every span with its tree
    ``depth`` and its per-trace display position ``pos`` (1-based,
    start-time order, id then end tie-break) — the reference leaves
    both to the UI client (duo-ui), which caps trace size; computing
    them in the engine makes the view pageable at any trace size.

    Two formulations, pinned equal in tests; ``method`` picks:

    - ``"bfs"`` (default): depth from :func:`span_depths` (one
      equi-join per tree level, ≤ ``max_depth`` rounds), pos from a
      trace-partitioned window. Fastest in practice — real trace
      trees are ≤ ~10 levels, so the driver-synchronized rounds are
      few and each is a plain hash join.
    - ``"local"``: ONE shuffle total, no per-level rounds. A trace is
      a bounded group (the engine truncates admission, operator O4),
      so the whole trace is collected into a sorted array per
      trace_id and everything else is map-side whole-stage-codegen
      HOFs: a first-occurrence-wins id→parent map
      (``aggregate``/``map_concat``), a per-span parent-chain walk of
      at most ``max_depth`` steps, and a ``posexplode`` of the
      surviving spans for ``pos``. Trades ~1.7× task CPU (per-element
      map building) for zero cluster barriers — the right end of the
      trade when the cluster is wide and stragglers make
      per-level synchronization expensive.

    Shared semantics: spans not reachable from a root within
    ``max_depth`` are dropped; duplicate span ids (partial records
    pre-merge) all appear, each positioned by its own row. Corrupt
    duplicates recording DIFFERENT parents for one id: ``"local"``
    resolves the chain through the first occurrence in (start, id,
    end) order — deterministic — where ``"bfs"`` emits one row per
    distinct depth. ``"local"`` requires non-negative span ids
    (-1/-2 are walk sentinels; reference ids are u64, `duo-api`
    SpanId).
    """
    if method == "bfs":
        depths = span_depths(spans, max_depth)
        # no manual broadcast decision: sizing depths cost a driver
        # count() job per call (VERDICT r9 #4). The (id, depth) table
        # is 16-byte rows over checkpointed levels; AQE measures the
        # exchange at runtime and converts the join to broadcast-hash
        # exactly when it fits, with zero extra jobs here.
        # (start, id) alone is not a total order when duplicate span
        # ids exist — end breaks the remaining tie
        w = Window.partitionBy("trace_id").orderBy(
            F.asc("start"), F.asc("id"), F.asc("end")
        )
        return (
            spans.join(depths, "id")
            .withColumn("pos", F.row_number().over(w))
            .select(
                "trace_id",
                "pos",
                "id",
                "parent_id",
                "name",
                "process_id",
                "start",
                (F.col("end") - F.col("start")).alias("duration_us"),
                "depth",
            )
        )
    if method != "local":
        raise ValueError(f"method must be 'bfs' or 'local', got {method!r}")
    payload = [c for c in spans.columns if c != "trace_id"]
    rest = [c for c in payload if c not in ("start", "id", "end")]
    arr = F.sort_array(
        F.collect_list(
            F.struct(F.col("start"), F.col("id"), F.col("end"), *[F.col(c) for c in rest])
        )
    )
    g = spans.groupBy("trace_id").agg(arr.alias("_arr"))
    # id → parent (root ⇒ -1), first occurrence wins; seeded with the
    # sentinel so the accumulator type is concrete. O(n²) map copies
    # per trace, n = trace size (bounded small).
    pm = F.aggregate(
        F.col("_arr"),
        F.create_map(F.lit(-1).cast("long"), F.lit(-1).cast("long")),
        lambda acc, x: F.when(
            F.try_element_at(acc, x["id"]).isNull(),
            F.map_concat(
                acc, F.create_map(x["id"], F.coalesce(x["parent_id"], F.lit(-1).cast("long")))
            ),
        ).otherwise(acc),
    )
    g = g.withColumn("_pm", pm)

    def walk(e):
        # (cur, d): cur walks the ancestor chain (-1 = reached a root,
        # -2 = orphaned at a missing parent), d counts edges taken
        state0 = F.struct(
            F.coalesce(e["parent_id"], F.lit(-1).cast("long")).alias("cur"),
            F.lit(0).alias("d"),
        )
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(max_depth)),
            state0,
            lambda acc, _i: F.when(acc["cur"] == -1, acc).otherwise(
                F.struct(
                    F.coalesce(
                        F.try_element_at(F.col("_pm"), acc["cur"]), F.lit(-2).cast("long")
                    ).alias("cur"),
                    F.when(acc["cur"] == -2, acc["d"]).otherwise(acc["d"] + 1).alias("d"),
                )
            ),
        )

    g = g.withColumn(
        "_res",
        F.filter(
            F.transform(F.col("_arr"), lambda e: F.struct(e.alias("e"), walk(e).alias("st"))),
            lambda r: r["st"]["cur"] == -1,
        ),
    )
    ex = g.select("trace_id", F.posexplode("_res").alias("_i", "_r"))
    e = F.col("_r")["e"]
    return ex.select(
        "trace_id",
        (F.col("_i") + 1).cast("int").alias("pos"),
        e["id"].alias("id"),
        e["parent_id"].alias("parent_id"),
        e["name"].alias("name"),
        e["process_id"].alias("process_id"),
        e["start"].alias("start"),
        (e["end"] - e["start"]).alias("duration_us"),
        F.col("_r")["st"]["d"].cast("int").alias("depth"),
    )


def service_paths(spans: DataFrame, max_depth: int = 8) -> DataFrame:
    """Root→span service paths ("flame paths"): for every span
    reachable from a root within ``max_depth``, the ``>``-joined
    service chain from its trace's root down to it, with its depth —
    the aggregation a service-map "most common call paths" panel needs
    (the reference leaves path structure entirely to the UI,
    `duo-ui`; the engine-side form makes it aggregable at any scale).

    Same BFS shape as :func:`span_depths` (one equi-join per level
    against a checkpointed 24-byte child set, early exit on an empty
    frontier), carrying the bounded path string instead of just the
    depth. Spans not reaching a root within ``max_depth`` are absent;
    duplicate span ids keep one row per distinct (path, depth).
    """
    return _bfs_levels(
        spans,
        max_depth,
        root=["id", F.col("process_id").alias("path"), F.lit(0).alias("depth")],
        child=["id", "parent_id", F.col("process_id").alias("_svc")],
        step=lambda children, frontier, d: children.join(
            frontier.select(F.col("id").alias("parent_id"), "path"), "parent_id"
        ).select(
            "id",
            F.concat_ws(">", "path", "_svc").alias("path"),
            F.lit(d).alias("depth"),
        ),
    )


def top_service_paths(spans: DataFrame, k: int = 20, max_depth: int = 8) -> DataFrame:
    """The k most frequent service paths: (path, depth, n), count
    descending with (path) tiebreak — a partial-aggregated count plus
    TakeOrderedAndProject, so the shuffle carries one row per DISTINCT
    path, not one per span."""
    return (
        service_paths(spans, max_depth)
        .groupBy("path", "depth")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(k)
    )
