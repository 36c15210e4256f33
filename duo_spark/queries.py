"""Driver-facing query registry: every SURVEY §2 operator expressed on
the driver's synthetic tables, each paired with a DuckDB oracle SQL.

Determinism rules (the driver hash-compares values):
- every LIMIT query has a TOTAL order (explicit tiebreakers);
- money/measure aggregates are integer cents (round→cast) so float
  summation order can't flip a hash;
- ratios/cosines are rounded to 6 decimals on both sides;
- timestamps are returned as epoch-µs BIGINT (unix_micros/epoch_us) or
  formatted date strings — never raw timestamp columns.

The span/log-shaped views are deterministic mappings of the driver
tables (orders→root spans, lineitem→child spans / log records,
events→log rows), so the *engine operators themselves* (search_logs,
field_stats, filter_traces, merge_span_records, …) run inside the
correctness gate, not ad-hoc re-implementations.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from duo_spark.functions import codec as codec_fns
from duo_spark.functions import time as time_fns
from duo_spark.operators import dedup, similarity, text
from duo_spark.operators.logs import field_stats, search_logs
from duo_spark.operators.materialize import checkpoint, together
from duo_spark.operators.spans import merge_span_records
from duo_spark.operators.traces import (
    correlate_span_logs,
    distinct_operations,
    enrich_process,
    filter_traces,
    logs_for_traces,
)
from duo_spark.schemas import FIXTURE_SCHEMAS

# epoch µs constants (UTC)
T_2024_01_05 = 1_704_412_800_000_000
T_2024_01_15 = 1_705_276_800_000_000
T_2024_01_20 = 1_705_708_800_000_000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``<sf_dir>/<name>.parquet``, read with its declared
    schema (``schemas.FIXTURE_SCHEMAS``): the plan is built with no
    footer-inference Spark job. The one place the registry reads a
    fixture.

    ``events.ts`` has also shipped as parquet TIMESTAMP(NANOS), which
    Spark reads only as an ns-epoch long. That layout is recognised from
    the file footer (pyarrow, no Spark job): ``ts`` is declared a long,
    read behind ``nanosAsLong`` and normalized to a µs timestamp, so
    every downstream view sees one shape."""
    path = f"{sf_dir}/{name}.parquet"
    schema = FIXTURE_SCHEMAS[name]
    ts_type = str(pq.read_schema(path).field("ts").type) if name == "events" else ""
    if ts_type.startswith("timestamp[ns"):  # the legacy layout
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = T.StructType(
            [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in schema]
        )
        ev = spark.read.schema(schema).parquet(path)
        return ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents table, repartitioned for CPU-heavy per-row operators.

    The small test files arrive as ONE parquet split, which would run
    hash-heavy signature passes single-threaded; at real scale the
    scan has thousands of splits and this repartition coalesces/fans
    to the cluster's parallelism either way.
    """
    docs = _t(spark, sf_dir, "documents")
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _ts_us() -> F.Column:
    """events.ts (µs timestamp, normalized by ``_t``) -> µs epoch.

    Session TZ is pinned UTC, so the NTZ→TS cast is offset-free and
    matches DuckDB's ``epoch_us`` on a naive timestamp.
    """
    return F.unix_micros(F.col("ts").cast("timestamp"))


def _us(col: str) -> F.Column:
    """TIMESTAMP_NTZ parquet column -> µs epoch (session TZ is UTC, so
    the NTZ→TS cast is offset-free, matching DuckDB's epoch_us on a
    naive timestamp)."""
    return F.unix_micros(F.col(col).cast("timestamp"))


# ---------------------------------------------------------------------
# shaped views: driver tables -> engine-native tables
# ---------------------------------------------------------------------

def events_as_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> log table shape (process_id/time/level/message)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.concat_ws("-", "event_type", (F.col("user_id") % 3).cast("string")).alias("process_id"),
        _ts_us().alias("time"),
        F.col("user_id").alias("trace_id"),
        F.col("event_id").alias("span_id"),
        F.when(F.col("event_type") == "error", "ERROR").otherwise("INFO").alias("level"),
        F.col("props").alias("message"),
        F.col("value"),
    )


LOGS_CTE = """
logs AS (
  SELECT event_type || '-' || CAST(user_id % 3 AS VARCHAR) AS process_id,
         epoch_us(ts) AS "time",
         user_id AS trace_id,
         event_id AS span_id,
         CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END AS level,
         props AS message,
         "value"
  FROM events)
"""


def spans_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> root spans, lineitem -> child spans."""
    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") * 10).alias("id"),
        F.lit(None).cast("long").alias("parent_id"),
        F.col("o_orderkey").alias("trace_id"),
        F.col("o_orderpriority").alias("name"),
        F.concat(F.lit("svc-"), F.col("o_orderstatus")).alias("process_id"),
        _us("o_orderdate").alias("start"),
        (_us("o_orderdate") + F.round(F.col("o_totalprice") * 1000).cast("long")).alias("end"),
        F.lit(None).cast("string").alias("tags"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        # coalesce makes parent_id provably non-nullable on the child
        # branch, so `parent_id IS NULL` root filters fold to false and
        # PRUNE the whole lineitem scan (isnull(l_orderkey*10) alone is
        # unprovable to Catalyst → full scan-and-discard; this was the
        # asof_span_log r4 bench regression). l_orderkey is a non-null
        # key, so the value is unchanged.
        F.coalesce(F.col("l_orderkey") * 10, F.lit(-1)).alias("parent_id"),
        F.col("l_orderkey").alias("trace_id"),
        F.col("l_returnflag").alias("name"),
        F.concat(F.lit("svc-"), F.col("l_linestatus")).alias("process_id"),
        _us("l_shipdate").alias("start"),
        (_us("l_shipdate") + F.round(F.col("l_quantity") * 1_000_000).cast("long")).alias("end"),
        F.lit(None).cast("string").alias("tags"),
    )
    return o.unionByName(li)


SPANS_CTE = """
spans AS (
  SELECT o_orderkey*10 AS id, CAST(NULL AS BIGINT) AS parent_id, o_orderkey AS trace_id,
         o_orderpriority AS name, 'svc-' || o_orderstatus AS process_id,
         epoch_us(o_orderdate) AS "start",
         epoch_us(o_orderdate) + CAST(round(o_totalprice*1000) AS BIGINT) AS "end",
         CAST(NULL AS VARCHAR) AS tags
  FROM orders
  UNION ALL
  SELECT l_orderkey*10 + l_linenumber, l_orderkey*10, l_orderkey,
         l_returnflag, 'svc-' || l_linestatus,
         epoch_us(l_shipdate),
         epoch_us(l_shipdate) + CAST(round(l_quantity*1000000) AS BIGINT),
         CAST(NULL AS VARCHAR)
  FROM lineitem)
"""

#: lineitem -> span-keyed log records (attach to root span of the order)
SPANLOGS_CTE = """
spanlogs AS (
  SELECT l_orderkey*10 AS span_id, l_orderkey AS trace_id,
         CASE WHEN l_returnflag = 'R' THEN 'ERROR' ELSE 'INFO' END AS level,
         epoch_us(l_shipdate) AS "time",
         l_linestatus AS message, 'svc-' || l_linestatus AS process_id
  FROM lineitem)
"""


def spanlogs_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 10).alias("span_id"),
        F.col("l_orderkey").alias("trace_id"),
        F.when(F.col("l_returnflag") == "R", "ERROR").otherwise("INFO").alias("level"),
        _us("l_shipdate").alias("time"),
        F.col("l_linestatus").alias("message"),
        F.concat(F.lit("svc-"), F.col("l_linestatus")).alias("process_id"),
    )


# ---------------------------------------------------------------------
# queries — duo surface (SURVEY §2.1-§2.8)
# ---------------------------------------------------------------------

def q_logs_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F4+F6+F7+O1+O2 through the search_logs operator."""
    logs = events_as_logs(spark, sf_dir)
    return search_logs(
        logs,
        service="click",
        expr="value > 50.0",
        start_us=T_2024_01_05,
        end_us=T_2024_01_20,
        limit=50,
        tiebreaker="span_id",
    )


SQL_LOGS_SEARCH = f"""
WITH {LOGS_CTE}
SELECT process_id, "time", trace_id, span_id, level, message, "value"
FROM logs
WHERE process_id LIKE 'click%' AND "value" > 50.0
  AND "time" >= {T_2024_01_05} AND "time" <= {T_2024_01_20}
ORDER BY "time" DESC, span_id DESC LIMIT 50
"""


def q_logs_keyword(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 keyword fallback: non-SQL expr -> message ILIKE."""
    logs = events_as_logs(spark, sf_dir)
    return search_logs(logs, expr='"k": 8', limit=100, tiebreaker="span_id")


SQL_LOGS_KEYWORD = f"""
WITH {LOGS_CTE}
SELECT process_id, "time", trace_id, span_id, level, message, "value"
FROM logs WHERE message ILIKE '%"k": 8%'
ORDER BY "time" DESC, span_id DESC LIMIT 100
"""


def q_logs_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 offset+limit pagination."""
    logs = events_as_logs(spark, sf_dir)
    return search_logs(logs, skip=100, limit=50, tiebreaker="span_id")


SQL_LOGS_PAGINATION = f"""
WITH {LOGS_CTE}
SELECT process_id, "time", trace_id, span_id, level, message, "value"
FROM logs ORDER BY "time" DESC, span_id DESC LIMIT 50 OFFSET 100
"""


def q_field_stats_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/F8/O3 through the field_stats operator."""
    logs = events_as_logs(spark, sf_dir)
    return field_stats(logs, "level")


SQL_FIELD_STATS_LEVEL = f"""
WITH {LOGS_CTE}
SELECT level AS "value", CAST(count(level) AS BIGINT) AS count
FROM logs WHERE level IS NOT NULL
GROUP BY level ORDER BY count DESC, "value" ASC LIMIT 20
"""


def q_field_stats_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 on a higher-cardinality field (top-20 of trace_id)."""
    logs = events_as_logs(spark, sf_dir)
    return field_stats(logs, "trace_id")


def q_field_stats_ref_quirk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's literal limit-BEFORE-aggregate field stats
    (duo/src/query.rs:139-151; SURVEY §3.3; DEVIATIONS #2): the limit
    caps input rows scanned, not output groups. Pinned alongside the
    fixed semantics (q_field_stats_level) so both behaviors are
    driver-gated (VERDICT r13 #8). Scan order is the deterministic
    (time, span_id) stand-in for the reference's memtable order."""
    from duo_spark.operators.logs import field_stats_ref_quirk

    logs = events_as_logs(spark, sf_dir)
    return field_stats_ref_quirk(
        logs, "level",
        scan_order=[F.col("time").asc(), F.col("span_id").asc()],
        input_limit=500,
    )


SQL_FIELD_STATS_REF_QUIRK = f"""
WITH {LOGS_CTE},
capped AS (
  SELECT level FROM logs ORDER BY "time" ASC, span_id ASC LIMIT 500)
SELECT level AS "value", CAST(count(level) AS BIGINT) AS count
FROM capped WHERE level IS NOT NULL
GROUP BY level ORDER BY count DESC, "value" ASC
"""


SQL_FIELD_STATS_TRACE = f"""
WITH {LOGS_CTE}
SELECT trace_id AS "value", CAST(count(trace_id) AS BIGINT) AS count
FROM logs WHERE trace_id IS NOT NULL
GROUP BY trace_id ORDER BY count DESC, "value" ASC LIMIT 20
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 equality filter (the trace_id = lit shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_id") == 4242).select(
        "event_id", _ts_us().alias("time_us"), "user_id", "event_type",
        F.round("value", 2).alias("value"),
    )


SQL_POINT_LOOKUP = """
SELECT event_id, epoch_us(ts) AS time_us, user_id, event_type,
       round("value", 2) AS "value"
FROM events WHERE event_id = 4242
"""


def q_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 IN-list filter + count by key."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin("error", "signup"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_IN_LIST = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n
FROM events WHERE event_type IN ('error', 'signup') GROUP BY event_type
"""


def q_union_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 hot∪cold with schema drift (unionByName allowMissingColumns)."""
    ev = _t(spark, sf_dir, "events")
    hot = ev.filter(_ts_us() >= T_2024_01_15).select(
        "event_id", "event_type", "value", F.lit("hot").alias("source_tag")
    )
    cold = ev.filter(_ts_us() < T_2024_01_15).select("event_id", "event_type")
    u = hot.unionByName(cold, allowMissingColumns=True)
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("value").alias("n_value"),
        F.count("source_tag").alias("n_hot"),
    )


SQL_UNION_DRIFT = f"""
WITH u AS (
  SELECT event_id, event_type, "value", 'hot' AS source_tag
  FROM events WHERE epoch_us(ts) >= {T_2024_01_15}
  UNION ALL
  SELECT event_id, event_type, NULL, NULL
  FROM events WHERE epoch_us(ts) < {T_2024_01_15})
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count("value") AS BIGINT) AS n_value,
       CAST(count(source_tag) AS BIGINT) AS n_hot
FROM u GROUP BY event_type
"""


def q_hotcold_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2+K1+U1+T5 end-to-end THROUGH the storage layer: cold rows
    written via PartitionedStore (partitioned parquet + bloom), hot
    rows in memory, hot∪cold union read back by HotColdTable, then the
    log-search operator on top. The storage layer must be semantically
    invisible, so the oracle is the plain logs query."""
    import uuid as _uuid

    from duo_spark.sources.store import HotColdTable, PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    logs = events_as_logs(spark, sf_dir)
    store = PartitionedStore(spark, _scratch("hotcold", _uuid.uuid4().hex), granularity="date")
    store.write(logs.filter(F.col("time") < T_2024_01_15), "log", time_col="time")
    hot = logs.filter(F.col("time") >= T_2024_01_15)
    table = HotColdTable(store, "log", hot=hot)
    return search_logs(
        table.df(), service="view", start_us=T_2024_01_05, end_us=T_2024_01_20,
        limit=80, tiebreaker="span_id",
    )


SQL_HOTCOLD_SEARCH = f"""
WITH {LOGS_CTE}
SELECT process_id, "time", trace_id, span_id, level, message, "value"
FROM logs
WHERE process_id LIKE 'view%'
  AND "time" >= {T_2024_01_05} AND "time" <= {T_2024_01_20}
ORDER BY "time" DESC, span_id DESC LIMIT 80
"""


def q_distinct_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 distinct span names for one service."""
    return distinct_operations(spans_view(spark, sf_dir), service="svc-O")


SQL_DISTINCT_OPERATIONS = f"""
WITH {SPANS_CTE}
SELECT DISTINCT name FROM spans WHERE process_id LIKE 'svc-O%'
"""


def _span_merge_records(spark: SparkSession, sf_dir: str, modulo: int | None = None) -> DataFrame:
    """Open+close span-record stream derived from lineitem; lineitems
    5..7 never get a close record => stay incomplete and are withheld
    (duo/src/aggregator.rs:32-39 semantics). ``modulo`` keeps every
    m-th order only (keeps the streaming gate replays short)."""
    li = _t(spark, sf_dir, "lineitem")
    if modulo is not None:
        li = li.filter(F.col("l_orderkey") % modulo == 0)
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("trace_id"),
        F.col("l_returnflag").alias("name"),
        F.concat(F.lit("svc-"), F.col("l_linestatus")).alias("process_id"),
        _us("l_shipdate").alias("start"),
        F.col("l_linenumber"),
        F.col("l_quantity"),
    )
    opens = base.select(
        "id", (F.col("id") - F.col("l_linenumber")).alias("parent_id"), "trace_id",
        "name", "process_id", "start", F.lit(None).cast("long").alias("end"),
        F.lit(None).cast("string").alias("tags"),
    )
    closes = base.filter(F.col("l_linenumber") <= 4).select(
        "id", F.lit(None).cast("long").alias("parent_id"), "trace_id", "name",
        "process_id", "start",
        (F.col("start") + F.round(F.col("l_quantity") * 1_000_000).cast("long")).alias("end"),
        F.lit(None).cast("string").alias("tags"),
    )
    return opens.unionByName(closes)


def q_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5+K2 gated directly (round 13, the reference's WAL
    write/recovery lifecycle — duo writes Arrow-IPC WAL every 10 s and
    reconstructs open-span state from it on restart;
    here the durable layer is the Structured Streaming checkpoint +
    the versioned open/ state, per DEVIATIONS #6): the span records
    split across TWO SEPARATE STREAMING QUERY LIFETIMES against ONE
    checkpoint. Lifetime 1 drains only the OPEN records and stops —
    its open-span state persists in out/open/v=N and its source
    offsets in the checkpoint commit log. Lifetime 2 (a brand-new
    query object on the same checkpoint) drains the CLOSE records
    staged after the first stop. Every completed span therefore
    requires state RECOVERED across a full stop/start cycle — a
    checkpoint-resume, offset-replay, or open-state-reload bug yields
    missing or duplicate completions against the batch oracle (the
    same SQL as span_merge: streaming restart must be semantically
    invisible)."""
    import uuid as _uuid

    from duo_spark.schemas import SPAN_SCHEMA
    from duo_spark.streaming.merge import read_completed, streaming_span_merge_fast
    from duo_spark.streaming.pipeline import _scratch

    records = _span_merge_records(spark, sf_dir)
    run = _scratch("ckrec", _uuid.uuid4().hex)
    src = f"{run}/in"
    records.filter(F.col("end").isNull()).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    # lifetime 1: drain the opens, stop
    stream1 = spark.readStream.schema(SPAN_SCHEMA).parquet(src)
    q1 = streaming_span_merge_fast(stream1, f"{run}/out", f"{run}/ckpt")
    q1.awaitTermination()
    # stage the closes AFTER the stop; lifetime 2 resumes from the
    # same checkpoint and must merge them into the recovered state
    records.filter(F.col("end").isNotNull()).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(SPAN_SCHEMA).parquet(src)
    q2 = streaming_span_merge_fast(stream2, f"{run}/out", f"{run}/ckpt")
    q2.awaitTermination()
    return read_completed(spark, f"{run}/out").select(
        "id", "parent_id", "trace_id", "name", "process_id", "start", "end"
    )


def q_object_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 gated directly (round 13, the reference's object-store
    abstraction — duo/src via opendal: the same store code serves
    fs/s3/gcs roots): the ENTIRE store lifecycle through an EXPLICIT
    ``file://`` URI root rather than a bare path, so every operation
    resolves its filesystem through the Hadoop scheme registry —
    exactly the seam where an s3a:// or gs:// root plugs in at
    production (only the scheme string changes). Exercises write
    (partitioned + bloom), exists, JSON side files, and read through
    the URI; the oracle is the plain logs aggregate — the storage
    scheme must be semantically invisible."""
    import uuid as _uuid

    from duo_spark.sources.store import PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    logs = events_as_logs(spark, sf_dir)
    root = "file://" + _scratch("gate-k4", _uuid.uuid4().hex)
    store = PartitionedStore(spark, root, granularity="hour")
    store.write(logs, "log", time_col="time")
    assert store.exists("log") and not store.exists("nope")
    store.write_json("meta.json", {"tables": ["log"]})
    assert store.read_json("meta.json") == {"tables": ["log"]}
    return store.read("log").groupBy("process_id", "level").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
    )


SQL_OBJECT_STORE_ROUNDTRIP = f"""
WITH {LOGS_CTE}
SELECT process_id, level, CAST(count(*) AS BIGINT) AS n,
       MIN("time") AS min_time, MAX("time") AS max_time
FROM logs GROUP BY process_id, level
"""


def q_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 span upsert-merge: open+close records -> completed spans."""
    merged = merge_span_records(_span_merge_records(spark, sf_dir))
    return merged.select("id", "parent_id", "trace_id", "name", "process_id", "start", "end")


SQL_SPAN_MERGE = """
WITH recs AS (
  SELECT l_orderkey*10 + l_linenumber AS id, l_orderkey*10 AS parent_id,
         l_orderkey AS trace_id, l_returnflag AS name,
         'svc-' || l_linestatus AS process_id,
         epoch_us(l_shipdate) AS "start", CAST(NULL AS BIGINT) AS "end"
  FROM lineitem
  UNION ALL
  SELECT l_orderkey*10 + l_linenumber, NULL, l_orderkey, l_returnflag,
         'svc-' || l_linestatus, epoch_us(l_shipdate),
         epoch_us(l_shipdate) + CAST(round(l_quantity*1000000) AS BIGINT)
  FROM lineitem WHERE l_linenumber <= 4)
SELECT id, max(parent_id) AS parent_id, min(trace_id) AS trace_id,
       min(name) AS name, min(process_id) AS process_id,
       min("start") AS "start", max("end") AS "end"
FROM recs GROUP BY id HAVING max("end") IS NOT NULL
"""


def q_streaming_span_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T5: the SAME record set as span_merge pushed through the real
    Structured Streaming path — file source -> foreachBatch completion
    (duo_spark/streaming/merge.py) -> memory-mode view (availableNow
    drain). The oracle is identical to the batch one because streaming
    and batch merge rules agree; the record set is thinned to
    every-20th order to keep the gate run short."""
    from duo_spark.streaming import replay_span_records

    records = _span_merge_records(spark, sf_dir, modulo=20)
    return replay_span_records(spark, records).select(
        "id", "parent_id", "trace_id", "name", "process_id", "start", "end"
    )


def q_streaming_span_merge_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4-fast (round 7): the FULL span_merge record set (no thinning —
    the whole point is that the JVM-side foreachBatch merge has no
    per-key Python overhead to bound) through
    streaming/merge.streaming_span_merge_fast across two staged
    micro-batches, read back from the completed delta log. Same oracle
    as the batch merge: the fast path's scalar folds and sorted tag
    resolution are schedule-independent."""
    import uuid as _uuid

    from duo_spark.schemas import SPAN_SCHEMA
    from duo_spark.streaming.merge import read_completed, streaming_span_merge_fast
    from duo_spark.streaming.pipeline import _scratch

    records = _span_merge_records(spark, sf_dir)
    run = _scratch("sfast", _uuid.uuid4().hex)
    src = f"{run}/in"
    records.filter(F.col("id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    records.filter(F.col("id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(SPAN_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_span_merge_fast(stream, f"{run}/out", f"{run}/ckpt")
    q.awaitTermination()
    return read_completed(spark, f"{run}/out").select(
        "id", "parent_id", "trace_id", "name", "process_id", "start", "end"
    )


SQL_STREAMING_SPAN_MERGE = """
WITH recs AS (
  SELECT l_orderkey*10 + l_linenumber AS id, l_orderkey*10 AS parent_id,
         l_orderkey AS trace_id, l_returnflag AS name,
         'svc-' || l_linestatus AS process_id,
         epoch_us(l_shipdate) AS "start", CAST(NULL AS BIGINT) AS "end"
  FROM lineitem WHERE l_orderkey % 20 = 0
  UNION ALL
  SELECT l_orderkey*10 + l_linenumber, NULL, l_orderkey, l_returnflag,
         'svc-' || l_linestatus, epoch_us(l_shipdate),
         epoch_us(l_shipdate) + CAST(round(l_quantity*1000000) AS BIGINT)
  FROM lineitem WHERE l_orderkey % 20 = 0 AND l_linenumber <= 4)
SELECT id, max(parent_id) AS parent_id, min(trace_id) AS trace_id,
       min(name) AS name, min(process_id) AS process_id,
       min("start") AS "start", max("end") AS "end"
FROM recs GROUP BY id HAVING max("end") IS NOT NULL
"""


def q_streaming_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 end-to-end: the record set pushed through the REAL persistent
    span pipeline — file source -> foreachBatch completion -> versioned
    completed-span delta log (flat versions of the completed-span
    columns; availableNow drain) -> read back through
    ``merge.read_completed``, the engine's span read path
    (duo/src/grpc/server.rs:89-120 + partition/writer.rs). Thinned to
    every-40th order."""
    import uuid as _uuid

    from duo_spark.streaming.merge import read_completed
    from duo_spark.streaming.pipeline import _scratch, start_span_pipeline

    records = _span_merge_records(spark, sf_dir, modulo=40)
    run = _scratch("pqsink", _uuid.uuid4().hex)
    src = f"{run}/in"
    records.write.mode("overwrite").parquet(src)
    q = start_span_pipeline(
        spark,
        src,
        out_dir=f"{run}/store/span",
        checkpoint_dir=f"{run}/ckpt",
        available_now=True,
    )
    q.awaitTermination()
    return read_completed(spark, f"{run}/store/span").select(
        "id", "parent_id", "trace_id", "name", "process_id", "start", "end"
    )


SQL_STREAMING_PARQUET_SINK = SQL_STREAMING_SPAN_MERGE.replace("% 20", "% 40")


def q_trace_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 root-predicate trace admission + deterministic top-20."""
    spans = spans_view(spark, sf_dir)
    return filter_traces(spans, service="svc-O", min_duration_us=100_000_000, limit=20)


SQL_TRACE_ASSEMBLY = f"""
WITH {SPANS_CTE},
roots AS (
  SELECT * FROM spans
  WHERE parent_id IS NULL AND process_id LIKE 'svc-O%'
    AND ("end" - "start") >= 100000000),
admitted AS (
  SELECT trace_id FROM roots ORDER BY "start" DESC, trace_id DESC LIMIT 20)
SELECT s.* FROM spans s WHERE s.trace_id IN (SELECT trace_id FROM admitted)
"""


def q_trace_logs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 logs semi-joined to admitted traces."""
    spans = spans_view(spark, sf_dir)
    admitted = filter_traces(spans, service="svc-O", min_duration_us=100_000_000, limit=20)
    return logs_for_traces(spanlogs_view(spark, sf_dir), admitted)


SQL_TRACE_LOGS = f"""
WITH {SPANS_CTE}, {SPANLOGS_CTE},
roots AS (
  SELECT * FROM spans
  WHERE parent_id IS NULL AND process_id LIKE 'svc-O%'
    AND ("end" - "start") >= 100000000),
admitted AS (
  SELECT trace_id FROM roots ORDER BY "start" DESC, trace_id DESC LIMIT 20)
SELECT l.* FROM spanlogs l WHERE l.trace_id IN (SELECT trace_id FROM admitted)
"""


def q_span_log_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A3 per-span log counts and error flag (scalar columns only —
    the nested span_logs array is exercised in tests/test_traces.py)."""
    roots = spans_view(spark, sf_dir).filter(F.col("parent_id").isNull())
    enriched = correlate_span_logs(roots, spanlogs_view(spark, sf_dir))
    return enriched.select(
        "id", "trace_id", "log_count",
        F.coalesce("error_count", F.lit(0)).alias("error_count"), "error",
    )


SQL_SPAN_LOG_CORRELATION = f"""
WITH {SPANS_CTE}, {SPANLOGS_CTE},
per_span AS (
  SELECT span_id, CAST(count(*) AS BIGINT) AS log_count,
         CAST(sum(CASE WHEN level = 'ERROR' THEN 1 ELSE 0 END) AS BIGINT) AS error_count
  FROM spanlogs GROUP BY span_id)
SELECT s.id, s.trace_id,
       coalesce(p.log_count, 0) AS log_count,
       coalesce(p.error_count, 0) AS error_count,
       coalesce(p.error_count, 0) > 0 AS error
FROM spans s LEFT JOIN per_span p ON s.id = p.span_id
WHERE s.parent_id IS NULL
"""


def q_process_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 broadcast process-registry enrichment."""
    logs = events_as_logs(spark, sf_dir)
    procs = (
        logs.select("process_id").distinct()
        .select(F.col("process_id").alias("id"),
                F.split(F.col("process_id"), "-")[0].alias("service_name"))
    )
    return enrich_process(logs, procs).groupBy("service_name").agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_PROCESS_ENRICH = f"""
WITH {LOGS_CTE},
procs AS (
  SELECT DISTINCT process_id AS id, split_part(process_id, '-', 1) AS service_name
  FROM logs)
SELECT p.service_name, CAST(count(*) AS BIGINT) AS n
FROM logs l JOIN procs p ON l.process_id = p.id
GROUP BY p.service_name
"""


def q_message_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6 message extraction, gated directly (round 13, VERDICT r12
    #6): a per-event fields map — with the ``message`` key present
    only on even event_ids — splits through
    functions/codec.py message_from_fields into the message column
    (try_element_at: absent key → NULL, never an ANSI error) and the
    residual map (map_filter). The residual is emitted as a sorted
    ``k=v`` join so the map's unordered representation canonicalizes
    identically on both engines."""
    from duo_spark.functions.codec import message_from_fields

    ev = _t(spark, sf_dir, "events")
    with_msg = F.create_map(
        F.lit("message"), F.col("props"),
        F.lit("event"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    without_msg = F.create_map(
        F.lit("event"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    fields = F.when(F.col("event_id") % 2 == 0, with_msg).otherwise(
        without_msg
    )
    msg, rest = message_from_fields(fields)
    return ev.select(
        F.col("event_id"),
        msg.alias("message"),
        F.array_join(
            F.sort_array(
                F.transform(
                    F.map_entries(rest),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                )
            ),
            ",",
        ).alias("residual"),
    )


SQL_MESSAGE_EXTRACT = """
SELECT event_id,
       CASE WHEN event_id % 2 = 0 THEN props END AS message,
       'event=' || event_type || ',uid=' || CAST(user_id AS VARCHAR)
         AS residual
FROM events
"""


def q_process_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 JSON side-file roundtrip, gated directly (round 13, VERDICT
    r12 #6): the process registry — the same tiny JSON the reference
    persists next to its parquet (duo/src/web/mod.rs process map) —
    aggregates from the logs (BOUNDED driver collect: distinct
    process_ids = |event types| x 3 by construction, the registry is
    small by the same contract as the reference's), writes through
    PartitionedStore.write_json, reads back via read_json, and
    re-enters Spark as a table. The oracle recomputes the registry
    from events — a write/read/serialization bug lands on different
    rows."""
    import uuid as _uuid

    from duo_spark.sources.store import PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    logs = events_as_logs(spark, sf_dir)
    reg_rows = (
        logs.groupBy("process_id")
        .agg(F.count(F.lit(1)).alias("n_logs"))
        .collect()
    )
    payload = {
        r["process_id"]: {
            "service_name": r["process_id"].rsplit("-", 1)[0],
            "n_logs": r["n_logs"],
        }
        for r in reg_rows
    }
    store = PartitionedStore(
        spark, _scratch("gate-procreg", _uuid.uuid4().hex)
    )
    store.write_json("process.json", payload)
    back = store.read_json("process.json")
    return spark.createDataFrame(
        [
            (pid, v["service_name"], int(v["n_logs"]))
            for pid, v in back.items()
        ],
        "process_id string, service_name string, n_logs long",
    )


SQL_PROCESS_REGISTRY = f"""
WITH {LOGS_CTE}
SELECT process_id,
       regexp_replace(process_id, '-[^-]*$', '') AS service_name,
       CAST(count(*) AS BIGINT) AS n_logs
FROM logs GROUP BY process_id
"""


# ---------------------------------------------------------------------
# analytic queries (joins / aggregations / windows on the star schema)
# ---------------------------------------------------------------------

def _cents(col: str) -> F.Column:
    return F.round(F.col(col) * 100).cast("long")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship wide aggregation (integer-cent
    measures for cross-engine exactness)."""
    li = _t(spark, sf_dir, "lineitem")
    ext_c = _cents("l_extendedprice")
    disc_c = _cents("l_discount")  # 0..100 (percent points)... cents of 1.0 scale
    tax_c = _cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(ext_c).alias("sum_base_cents"),
            F.sum(ext_c * (F.lit(100) - disc_c)).alias("sum_disc_e4"),
            F.sum(ext_c * (F.lit(100) - disc_c) * (F.lit(100) + tax_c)).alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_e4,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))
                * (100 + CAST(round(l_tax*100) AS BIGINT))) AS BIGINT) AS sum_charge_e6,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-10 (TakeOrderedAndProject)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = F.sum(_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias("revenue_e4")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(rev)
        .orderBy(F.col("revenue_e4").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_TOP_REVENUE_ORDERS = """
SELECT o_orderkey, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderkey, o_orderpriority
ORDER BY revenue_e4 DESC, o_orderkey ASC LIMIT 10
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join with broadcast dimensions (nation/region are tiny —
    Catalyst broadcasts under the threshold; the explicit hint makes
    the 1000-executor plan independent of stats)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.sum(_cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))).alias("revenue_e4")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(rev, F.count(F.lit(1)).alias("n_items"))
    )


SQL_NATION_REVENUE = """
SELECT r_name, n_name,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_ORDERS_WITH_RETURNS = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderstatus
"""


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(_cents("c_acctbal")).alias("acctbal_cents"))
    )


SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS acctbal_cents
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (row_number over partitioned order)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", _cents("o_totalprice").alias("totalprice_cents"), "rk")
    )


SQL_TOPK_ORDERS_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice*100) AS BIGINT) AS totalprice_cents, rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rk
      FROM orders)
WHERE rk <= 3
"""


def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time daily rollup (the batch analog of the streaming
    windowed agg, SURVEY §2.9)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.timestamp_micros(_ts_us()), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum(_cents("value")).alias("value_cents"))
    )


SQL_EVENTS_DAILY = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round("value"*100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------
# north-star: dedup / similarity / text analysis
# ---------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs, "doc_id", "text")


SQL_DEDUP_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       CAST(count(*) AS BIGINT) AS dup_count
FROM documents GROUP BY 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard pairs at threshold 0.75, candidates via
    MinHash banding (32 bands x 2 rows -> per-pair miss probability
    ~3e-12 at j=0.75) and verification via exact full-set Jaccard.

    Why not the plain inverted-index join: its fanout is quadratic in
    token document frequency — 165 s at sf0.1 and cartesian at 100 TB.
    Why not a df-cutoff: on this template-heavy corpus TRUE near-dup
    pairs share only high-df tokens, so the cutoff guts recall (53 of
    40,346 pairs at sf0.01). Banded MinHash bounds the join by
    signature agreement instead of token frequency, which is exactly
    output-proportional for clustered duplicates. The operator's
    ``max_doc_freq`` path remains the right tool for stopword-skewed
    (web-text-like) corpora and is covered by tests/test_dedup.py.
    """
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.75, num_hashes=64, bands=32, shingle_n=1
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
  FROM documents),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM toks a JOIN toks b ON a.t = b.t AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON pairs.id_a = sa.doc_id
JOIN sizes sb ON pairs.id_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.75
"""


def q_ngram_jaccard_strong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded (j>=0.9) variant of ngram_jaccard for the bench
    headline: 4-row bands (16x4) admit far fewer candidates than the
    0.75 query's 2-row bands, so runtime is bounded by the strong-pair
    answer size, not the full near-dup closure. Per-pair miss
    probability at j=0.9 is (1-0.9^4)^16 ~ 3.6e-8 — oracle-exact in
    practice, and verification is exact Jaccard either way."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.9, num_hashes=64, bands=16, shingle_n=1
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD_STRONG = SQL_NGRAM_JACCARD.replace("0.75", "0.9")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feats = text.quality_features(docs, "text")
    return feats.select(
        "doc_id",
        F.col("n_chars_m").alias("n_chars_computed"),
        "n_tokens", "n_punct", "n_stopwords",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


SQL_TEXT_STATS = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars_computed,
         string_split_regex(trim(text), '\\s+') AS tok,
         length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS n_punct
  FROM documents)
SELECT doc_id, n_chars_computed,
       CAST(len(tok) AS INT) AS n_tokens,
       CAST(n_punct AS BIGINT) AS n_punct,
       CAST(len(list_filter(tok, t -> list_contains(
           ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS INT) AS n_stopwords,
       round(CAST(len(list_filter(tok, t -> list_contains(
           ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
           / greatest(len(tok), 1), 6) AS stopword_ratio
FROM toks
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text.add_lang_id(docs, "text").select("doc_id", "lang", "lang_guess")


SQL_LANG_ID = """
WITH hits AS (
  SELECT doc_id, lang,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        t -> list_contains(['the','and','of','to','a'], t))) AS h_en,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        t -> list_contains(['el','la','de','que','y'], t))) AS h_es,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        t -> list_contains(['der','die','und','das','ist'], t))) AS h_de,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        t -> list_contains(['le','la','et','les','des'], t))) AS h_fr,
    len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
        t -> list_contains(['的','是','了','在','我'], t))) AS h_zh
  FROM documents)
SELECT doc_id, lang,
  CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'und'
       WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
       WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
       WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
       WHEN h_fr >= h_zh THEN 'fr'
       ELSE 'zh' END AS lang_guess
FROM hits
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", text.fingerprint("text").alias("fp"))


SQL_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py
    winnowing_fingerprints — Schleimer et al. 2003 / MOSS): md5 word
    4-grams, window-5 minima, distinct per doc; then the posting-list
    self-join counts how many OTHER docs share at least one selected
    fingerprint (the clone-detection match stage). All array Column
    codegen + one equi-join; the oracle replays gram hashing, window
    minima, and the match join in SQL (md5 agrees across engines)."""
    docs = _docs(spark, sf_dir)
    # the fingerprint table feeds three consumers (both self-join sides
    # + the n_fp aggregate); checkpoint the small (doc_id, fp) rows once
    # so the md5-4gram + window-minima codegen runs one corpus pass
    fps = checkpoint(text.winnowing_fingerprints(
        docs, "doc_id", "text", k=4, w=5
    ))
    matches = (
        fps.alias("A")
        .join(fps.alias("B"), "fp")
        .filter(F.col("A.doc_id") != F.col("B.doc_id"))
        .select(F.col("A.doc_id").alias("doc_id"), F.col("B.doc_id").alias("other"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matching_docs"))
    )
    return (
        fps.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"))
        .join(matches, "doc_id", "left")
        .select(
            "doc_id", "n_fp",
            F.coalesce("n_matching_docs", F.lit(0)).alias("n_matching_docs"),
        )
    )


SQL_WINNOWING = r"""
WITH ws AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT doc_id, CASE WHEN len(w) >= 4
    THEN list_transform(range(1, len(w) - 2),
           i -> md5(array_to_string(w[i:i+3], ' ')))
    ELSE [md5(array_to_string(w, ' '))] END AS gh
  FROM ws),
s AS (
  SELECT doc_id, list_distinct(list_transform(
    range(1, greatest(len(gh) - 4, 1) + 1),
    j -> list_min(gh[j:j+4]))) AS fps
  FROM g),
e AS (SELECT doc_id, unnest(fps) AS fp FROM s),
m AS (
  SELECT a.doc_id, count(DISTINCT b.doc_id) AS n_matching_docs
  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id)
SELECT s.doc_id, len(s.fps) AS n_fp,
       coalesce(m.n_matching_docs, 0) AS n_matching_docs
FROM s LEFT JOIN m ON s.doc_id = m.doc_id
"""


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    topk = similarity.cosine_topk(emb, list(qvec), k=10, exclude_ids=[0])
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


SQL_ANN_COSINE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
sims AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(1, 65),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
     * sqrt(list_sum(list_transform(range(1, 65),
        i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))) AS cos
  FROM embeddings e, q WHERE e.vec_id <> 0)
SELECT vec_id, round(cos, 6) AS cosine
FROM sims ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact method (the oracle
    baseline; similarity.embedding_near_dup_pairs method='lsh' is the
    banded scale path, equivalence-tested in tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.4, method="exact")
    return pairs.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


SQL_EMBEDDING_NEAR_DUP = """
WITH n AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x))) AS nrm
  FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1, 65),
             i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
           / (a.nrm * b.nrm) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4
"""


def q_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch top-k: one ranked result list per query vector (broadcast
    queries + window rank)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = similarity.cosine_topk_many(emb, queries, k=5)
    return topk.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


SQL_TOPK_BATCH = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id IN (0,1,2)),
sims AS (
  SELECT q.query_id, e.vec_id,
         list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * q.qe[i]))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
          * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*x)))) AS cos
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT query_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM sims)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment with the first 4 vectors as centroids
    (deterministic; persisting partitioned by cell turns ANN into
    partition-pruned scans)."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    assigned = similarity.ivf_assign(emb, cents)
    return assigned.select("vec_id", F.col("_cell").alias("cell"))


SQL_IVF_ASSIGN = """
WITH c AS (
  SELECT list(embedding ORDER BY vec_id) AS cents
  FROM embeddings WHERE vec_id < 4),
s AS (
  SELECT e.vec_id,
         list_transform(c.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c)
SELECT vec_id,
       CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
            WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
            WHEN sims[3] >= sims[4] THEN 2
            ELSE 3 END AS cell
FROM s
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + the BPE-ish subword
    segmentation (letter/digit/punct runs)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_ws_tokens"),
        F.size(text.bpe_ish_tokens("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
       CAST(len(list_filter(string_split_regex(
           regexp_replace(text, '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)',
                          '\1' || chr(1), 'g'),
           '[\s' || chr(1) || ']+'), t -> t != '')) AS INT) AS n_bpe_tokens
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic 0-100 quality score from integer text features."""
    docs = _t(spark, sf_dir, "documents")
    return text.quality_score(docs, "text").select("doc_id", "quality_score")


SQL_QUALITY_SCORE = """
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(trim(text), '\\s+') AS tok,
         length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS n_punct
  FROM documents),
feats AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         CAST(len(list_filter(tok, t -> list_contains(
             ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
           / greatest(len(tok), 1) AS stopword_ratio,
         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
         CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE)
           / greatest(len(tok), 1) AS mean_token_len
  FROM toks)
SELECT doc_id,
       greatest(100
         - CASE WHEN n_tokens < 10 THEN 40 ELSE 0 END
         - CASE WHEN stopword_ratio < 0.05 THEN 20 ELSE 0 END
         - CASE WHEN punct_ratio > 0.2 THEN 20 ELSE 0 END
         - CASE WHEN mean_token_len > 12 THEN 20 ELSE 0 END, 0) AS quality_score
FROM feats
"""


def q_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload-free media rollup: the binary column is projected away
    before the shuffle (multimodal.media_stats without the approximate
    percentiles, so the oracle compares exactly)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(F.lit("kind-"), (F.col("doc_id") % 3).cast("string")).alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    sizes = media.select("kind", F.octet_length("content").alias("n_bytes"))
    return sizes.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )


SQL_MULTIMODAL_STATS = """
SELECT 'kind-' || CAST(doc_id % 3 AS VARCHAR) AS kind,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(max(octet_length(encode(text))) AS INT) AS max_bytes
FROM documents GROUP BY 1
"""


def q_multimodal_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode e2e (operators/multimodal.py decode_wav /
    audio_stats, round 10; extended round 12 to the G.711 telephony
    formats): per doc_id a genuine RIFF WAV — doc_id % 3 picks PCM16
    (stdlib reader path), µ-law (format 7) or A-law (format 6, both
    through the manual RIFF parse + ITU expand tables the stdlib
    reader rejects) — is synthesized from a closed-form sequence,
    decoded in one mapInPandas pass, and reduced to exact integer
    stats. The oracle never sees the bytes — it replays the closed
    form (including the G.711 bit-expansion formulas) over
    generate_series, so any container/stride/sign/companding bug in
    the decoder hash-mismatches."""
    from duo_spark.operators.multimodal import (
        audio_stats,
        synth_wav,
        synth_wav_g711,
    )

    def _wav(doc_id):
        def one(d: int) -> bytes:
            v = d % 3
            if v == 0:
                return synth_wav(d)
            return synth_wav_g711(d, "ulaw" if v == 1 else "alaw")
        return doc_id.map(lambda d: one(int(d)))

    wav_udf = F.pandas_udf(_wav, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", wav_udf("media_id").alias("content"))
    st = audio_stats(media)
    return st.select(
        "media_id",
        "n_channels",
        "sample_rate",
        "n_samples",
        F.round(F.col("sum_abs") / F.col("n_samples"), 6).alias("mean_abs"),
        "peak",
    )


SQL_MULTIMODAL_DECODE_AUDIO = """
WITH s AS (
  SELECT doc_id, doc_id % 3 AS variant,
         unnest(range(0, 64 + doc_id % 64)) AS i
  FROM documents),
b AS (
  SELECT doc_id, variant, (doc_id * 31 + i * 7) % 256 AS byte,
         (doc_id * 7919 + i * 104729) % 65536 - 32768 AS pcm
  FROM s),
u AS (SELECT *, 255 - byte AS mu, xor(byte, 85) AS aa FROM b),
x AS (
  SELECT *,
         (((mu & 15) << 3) + 132) << ((mu & 112) >> 4) AS mt,
         CASE (aa & 112) >> 4
           WHEN 0 THEN ((aa & 15) << 4) + 8
           WHEN 1 THEN ((aa & 15) << 4) + 264
           ELSE (((aa & 15) << 4) + 264) << (((aa & 112) >> 4) - 1)
         END AS at
  FROM u),
v AS (
  SELECT doc_id,
         CASE variant
           WHEN 0 THEN pcm
           WHEN 1 THEN CASE WHEN (mu & 128) != 0
                            THEN 132 - mt ELSE mt - 132 END
           ELSE CASE WHEN (aa & 128) != 0 THEN at ELSE -at END
         END AS v
  FROM x)
SELECT doc_id AS media_id,
       CAST(1 AS INT) AS n_channels,
       CAST(8000 AS INT) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       round(sum(abs(v)) * 1.0 / count(*), 6) AS mean_abs,
       CAST(max(abs(v)) AS INT) AS peak
FROM v GROUP BY doc_id
"""


def q_multimodal_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-AVI video decode e2e (operators/multimodal.py
    decode_avi_mjpeg / video_stats, round 13 — VERDICT r12 #4: video
    at zero new codec work): per doc_id a genuine RIFF/AVI container
    (LIST hdrl avih + 'vids'/'MJPG' strl, LIST movi of '00dc' chunks)
    holding ``4 + doc_id%3`` grayscale baseline JPEG frames of
    ``8*(2+id%3) x 8*(2+id%2)`` px, every 2nd frame entropy-decoded
    through the probe-39 T.81 path and reduced to exact per-frame
    channel sums. Frame f's block value is
    ``(id*29 + f*19 + bx*31 + by*37) % 256`` (synth_jpeg's
    zero-rounding DC-only construction), so the oracle replays the
    sampled frames' sums in closed form — a container-walk, frame
    indexing, sampling stride, Huffman or predictor bug all land on
    different rows."""
    from duo_spark.operators.multimodal import synth_avi_mjpeg, video_stats

    def _avi(doc_id):
        return doc_id.map(lambda d: synth_avi_mjpeg(int(d)))

    avi_udf = F.pandas_udf(_avi, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", avi_udf("media_id").alias("content"))
    return video_stats(media, every=2)


SQL_MULTIMODAL_DECODE_VIDEO = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 3 AS n_frames,
         8 * (2 + doc_id % 3) AS w, 8 * (2 + doc_id % 2) AS h
  FROM documents),
f AS (
  SELECT d.*, fi FROM d, unnest(range(0, n_frames, 2)) u(fi)),
blocks AS (
  SELECT doc_id, n_frames, w, h, fi, bx, by,
         (doc_id * 29 + fi * 19 + bx * 31 + by * 37) % 256 AS yv
  FROM f, unnest(range(0, w // 8)) bu(bx), unnest(range(0, h // 8)) bv(by))
SELECT doc_id AS media_id,
       CAST(max(n_frames) AS INT) AS n_frames,
       CAST(fi AS INT) AS frame_idx,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       CAST(sum(64 * yv) AS BIGINT) AS sum_r,
       CAST(sum(64 * yv) AS BIGINT) AS sum_g,
       CAST(sum(64 * yv) AS BIGINT) AS sum_b
FROM blocks GROUP BY doc_id, fi
"""


def q_video_frame_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame perceptual dHash over REAL MJPEG-AVI video
    (operators/multimodal.py video_frame_dhash, round 13): the
    synth_avi_mjpeg containers from the decode gate, every 2nd frame
    JPEG-decoded and fingerprinted with the exact integer dHash
    kernel image_dhash shares bit-for-bit — the cross-asset
    frame-dedup input (groupBy(dhash) = repeated-scene dedup with no
    pair join). The oracle REPLAYS THE HASH ITSELF: closed-form
    pixels -> grid-pooled integer luma cells -> cross-multiplied
    adjacent-cell comparisons -> the 64-char bit string, so a pooling
    boundary, comparison, or bit-order bug lands on different
    strings."""
    from duo_spark.operators.multimodal import synth_avi_mjpeg, video_frame_dhash

    def _avi(doc_id):
        return doc_id.map(lambda d: synth_avi_mjpeg(int(d)))

    avi_udf = F.pandas_udf(_avi, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", avi_udf("media_id").alias("content"))
    return video_frame_dhash(media, every=2)


SQL_VIDEO_FRAME_DHASH = """
WITH d AS (
  SELECT doc_id, 4 + doc_id % 3 AS n_frames,
         8 * (2 + doc_id % 3) AS w, 8 * (2 + doc_id % 2) AS h
  FROM documents),
f AS (
  SELECT d.*, fi FROM d, unnest(range(0, n_frames, 2)) u(fi)),
px AS (
  SELECT doc_id, fi, w, h,
         3 * ((doc_id * 29 + fi * 19 + (x // 8) * 31 + (y // 8) * 37)
              % 256) AS luma,
         x * 9 // w AS gc, y * 8 // h AS gr
  FROM f, unnest(range(0, w)) ux(x), unnest(range(0, h)) uy(y)),
cells AS (
  SELECT doc_id, fi, w, h, gr, gc, sum(luma) AS s, count(*) AS n
  FROM px GROUP BY doc_id, fi, w, h, gr, gc),
bits AS (
  SELECT l.doc_id, l.fi, l.w, l.h, l.gr, l.gc,
         CASE WHEN l.s * r.n > r.s * l.n THEN '1' ELSE '0' END AS b
  FROM cells l JOIN cells r
    ON r.doc_id = l.doc_id AND r.fi = l.fi
   AND r.gr = l.gr AND r.gc = l.gc + 1),
h AS (
  SELECT doc_id, fi, w, h, string_agg(b, '' ORDER BY gr, gc) AS dhash
  FROM bits GROUP BY doc_id, fi, w, h)
SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height, dhash
FROM h
"""


def q_multimodal_decode_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode e2e (operators/multimodal.py decode_bmp /
    image_stats, round 10): per doc_id a genuine 24-bit BI_RGB BMP —
    real header, 4-byte row padding, bottom-up rows, BGR byte order —
    is synthesized from closed-form pixels (synth_bmp), parsed back
    byte-by-byte in one mapInPandas pass, and reduced to exact
    per-channel sums. Oracle replays the pixel formula over the
    (x, y) grid; a stride or channel-order bug smears the sums."""
    from duo_spark.operators.multimodal import image_stats, synth_bmp

    def _bmp(doc_id):
        return doc_id.map(lambda d: synth_bmp(int(d)))

    bmp_udf = F.pandas_udf(_bmp, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", bmp_udf("media_id").alias("content"))
    st = image_stats(media)
    n = F.col("width") * F.col("height")
    return st.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("sum_r") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b") / n, 6).alias("mean_b"),
    )


SQL_MULTIMODAL_DECODE_IMAGE = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 8 AS w, 8 + doc_id % 5 AS h FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT doc_id, w, h,
         (doc_id * 3 + x * 7 + y * 13) % 256 AS r,
         (x * 31 + y) % 256 AS g,
         (doc_id + x + y * 17) % 256 AS b
  FROM xy)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       round(sum(r) * 1.0 / (max(w) * max(h)), 6) AS mean_r,
       round(sum(g) * 1.0 / (max(w) * max(h)), 6) AS mean_g,
       round(sum(b) * 1.0 / (max(w) * max(h)), 6) AS mean_b
FROM px GROUP BY doc_id
"""


# -- no-oracle (approximate / non-SQL-expressible) ----------------------

def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with EXACT shingle Jaccard, so
    the output is oracle-comparable: it equals the full exact pair set
    whenever band recall is ~1. With 16 bands x 4 rows, a pair at the
    0.5 threshold that the data actually contains (all >= 0.9 jaccard
    on the synthetic documents) is missed with p < 1e-7."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_MINHASH_LSH = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM docs),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(a.s || b.s)) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.5
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair→cluster resolution: minhash near-dup pairs (threshold 0.5)
    resolved to connected components (operators/graph.py, alternating
    large-star/small-star — all equi-joins, O(log n) rounds), then every
    document assigned its cluster (component min id; singletons map to
    themselves). The oracle computes the same clusters via a
    recursive-CTE transitive closure over the exhaustive Jaccard pair
    set — tractable only at oracle scale, which is the point: the Spark
    path is the 100 TB shape, the SQL is the spec."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    return dedup.near_dup_clusters(docs, "doc_id", pairs)


#: shared transitive-closure cluster CTE (recursive; oracle-scale only)
#: — yields `clusters(doc_id, cluster_id)` over the 0.5-Jaccard pair set
CLUSTERS_CTE = r"""docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM docs),
pairs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= 0.5),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION SELECT pb, pa FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (
  SELECT src AS node, least(src, min(dst)) AS component
  FROM reach GROUP BY src),
clusters AS (
  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.node)"""

SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {CLUSTERS_CTE}
SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
FROM clusters
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection (operators/dedup.py
    select_canonical): after pair→cluster resolution, keep the QUALITY
    winner of each dup group (longest n_chars, lowest doc_id on ties)
    — the collapse step a curation pipeline runs after dedup_clusters.
    Winner is a map-side-combinable max(struct) per cluster, never a
    per-cluster window."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    clusters = dedup.near_dup_clusters(docs, "doc_id", pairs)
    out = dedup.select_canonical(clusters, docs, "doc_id", "cluster_id", "n_chars")
    return out.select("doc_id", "cluster_id", "keep")


SQL_CANONICAL_DOCS = f"""
WITH RECURSIVE {CLUSTERS_CTE},
ranked AS (
  SELECT c.doc_id, c.cluster_id,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM clusters c JOIN documents d USING (doc_id))
SELECT doc_id, cluster_id, rn = 1 AS keep FROM ranked
"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/holdout split (operators/sampling.py
    leakage_safe_split): the split hashes the duplicate CLUSTER, not
    the document, so near-dups can never straddle train and eval.
    Same cross-engine multiplicative hash as the sampling family."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_near_duplicates(docs, "doc_id", "text", threshold=0.5)
    clusters = dedup.near_dup_clusters(docs, "doc_id", pairs)
    from duo_spark.operators.sampling import leakage_safe_split

    out = leakage_safe_split(clusters, train_fraction=0.8, id_col="doc_id", salt=7)
    return out.select("doc_id", "cluster_id", "split")


SQL_LEAKAGE_SPLIT = f"""
WITH RECURSIVE {CLUSTERS_CTE}
SELECT doc_id, cluster_id,
       -- exact truncated literal: int(0.8 * 1000000007) = 800000005;
       -- a CAST of the float product would ROUND to 800000006 in
       -- DuckDB while Spark truncates, flipping bucket 800000005
       CASE WHEN ((cluster_id % 1000003) + 7) * 2654435761 % 1000000007
                 < 800000005
            THEN 'train' ELSE 'holdout' END AS split
FROM clusters
"""


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout clustering (operators/layout.py): Morton-code
    the events table on (minute-of-epoch, user id) and summarize each
    of the 64 bit-prefix files — the per-file min/max rectangles SHOW
    the two-dimensional locality that row-group pruning exploits at
    scale (each file covers a narrow band of BOTH dimensions, not a
    full-width stripe of one). Pure shift/mask Column arithmetic,
    replayed bit-for-bit by the oracle."""
    from duo_spark.operators.layout import with_zorder

    # exact integer minute index (`div`, not float /, on 1e15-µs epochs)
    ev = _t(spark, sf_dir, "events").select(
        F.pmod(
            F.expr("unix_micros(cast(ts as timestamp)) div 60000000"), F.lit(65536)
        ).alias("x"),
        F.pmod(F.col("user_id"), F.lit(65536)).alias("y"),
    )
    z = with_zorder(ev, "x", "y", num_files=64)
    return (
        z.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("x").alias("min_minute"),
            F.max("x").alias("max_minute"),
            F.min("y").alias("min_user"),
            F.max("y").alias("max_user"),
        )
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (operators/funnel.py): users completing
    view → click → purchase, each step strictly after the previous and
    within 7 days of the first view. One filtered min-aggregate +
    equi-join per step — (user, time) pairs only, never per-user event
    arrays — so depth-k funnels cost k bounded shuffles at any
    corpus size."""
    from duo_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _ts_us().alias("ts_us")
    )
    return funnel_counts(
        ev, ["view", "click", "purchase"], window=604_800_000_000
    )


def q_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME funnel pushed through the REAL Structured Streaming
    path (streaming/funnel.py): events staged as two file-drops (odd
    then even event ids, so chains straddle micro-batches and later
    batches retroactively rewrite earlier step times), per-user
    stateful chain maintenance via applyInPandasWithState, final
    states read from the update stream (max seq per user). The 7-day
    window is applied to the final states — a windowed greedy chain is
    the unwindowed chain truncated at the first over-window step, so
    the oracle is identical to the batch funnel's."""
    import uuid as _uuid

    from duo_spark.streaming.funnel import streaming_funnel_states
    from duo_spark.streaming.pipeline import _scratch

    steps = ["view", "click", "purchase"]
    window = 604_800_000_000
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", _ts_us().alias("ts_us")
    )
    run = _scratch("sfunnel", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts_us long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    states = streaming_funnel_states(stream, steps)
    name = f"sfunnel_{_uuid.uuid4().hex[:8]}"
    q = (
        states.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    upd = spark.sql(f"SELECT * FROM {name}")
    w = Window.partitionBy("user_id").orderBy(F.desc("seq"))
    final = (
        upd.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    )
    bound = F.col("t1") + F.lit(window)
    counts = final.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1)).alias("c1"),
        F.count(F.when(F.col("t2") <= bound, 1)).alias("c2"),
        F.count(F.when(F.col("t3") <= bound, 1)).alias("c3"),
    )
    pairs = ", ".join(f"{i + 1}, '{s}', c{i + 1}" for i, s in enumerate(steps))
    return counts.selectExpr(
        f"stack({len(steps)}, {pairs}) as (step, event_type, users)"
    )


SQL_FUNNEL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT s1.user_id, t1, min(e.t) AS t2
       FROM s1 LEFT JOIN ev e
         ON e.user_id = s1.user_id AND e.event_type = 'click'
        AND e.t > s1.t1 AND e.t <= s1.t1 + 604800000000
       GROUP BY 1, 2),
s3 AS (SELECT s2.user_id, t1, t2, min(e.t) AS t3
       FROM s2 LEFT JOIN ev e
         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        AND e.t > s2.t2 AND e.t <= s2.t1 + 604800000000
       GROUP BY 1, 2, 3)
SELECT 1 AS step, 'view' AS event_type, CAST(count(t1) AS BIGINT) AS users FROM s3
UNION ALL
SELECT 2, 'click', CAST(count(t2) AS BIGINT) FROM s3
UNION ALL
SELECT 3, 'purchase', CAST(count(t3) AS BIGINT) FROM s3
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-transition latency for the funnel's completers
    (operators/funnel.py funnel_steps → one tiny aggregate): per
    transition (view→click, click→purchase) the completer count and
    exact min/median/max µs. The per-user step table is k bounded
    shuffles (same plan as q_funnel); the latency rollup aggregates
    O(users) rows into 2."""
    from duo_spark.operators.funnel import funnel_steps

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", _ts_us().alias("ts_us")
    )
    steps = funnel_steps(ev, ["view", "click", "purchase"], window=604_800_000_000)
    lat = steps.select(
        F.lit(2).alias("step"),
        (F.col("t2") - F.col("t1")).alias("d"),
    ).unionByName(
        steps.select(F.lit(3).alias("step"), (F.col("t3") - F.col("t2")).alias("d"))
    ).filter(F.col("d").isNotNull())
    return lat.groupBy("step").agg(
        F.count(F.lit(1)).alias("users"),
        F.min("d").alias("min_us"),
        F.round(F.expr("percentile(d, 0.5)"), 3).alias("med_us"),
        F.max("d").alias("max_us"),
    )


SQL_FUNNEL_LATENCY = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
s1 AS (SELECT user_id, min(t) AS t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT s1.user_id, t1, min(e.t) AS t2
       FROM s1 LEFT JOIN ev e
         ON e.user_id = s1.user_id AND e.event_type = 'click'
        AND e.t > s1.t1 AND e.t <= s1.t1 + 604800000000
       GROUP BY 1, 2),
s3 AS (SELECT s2.user_id, t1, t2, min(e.t) AS t3
       FROM s2 LEFT JOIN ev e
         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        AND e.t > s2.t2 AND e.t <= s2.t1 + 604800000000
       GROUP BY 1, 2, 3),
lat AS (
  SELECT 2 AS step, t2 - t1 AS d FROM s3 WHERE t2 IS NOT NULL
  UNION ALL
  SELECT 3, t3 - t2 FROM s3 WHERE t3 IS NOT NULL)
SELECT step, CAST(count(*) AS BIGINT) AS users, min(d) AS min_us,
       round(quantile_cont(d, 0.5), 3) AS med_us, max(d) AS max_us
FROM lat GROUP BY step
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram per event_type (operators/profile.py
    value_histogram): 20 bins over [0, 500), clamped tails, one hash
    aggregate with map-side binning. The oracle replays the identical
    clamped floor arithmetic."""
    from duo_spark.operators.profile import value_histogram

    ev = _t(spark, sf_dir, "events")
    return value_histogram(
        ev, "value", lo=0.0, hi=500.0, nbins=20, group_cols=["event_type"]
    )


SQL_VALUE_HISTOGRAM = """
WITH b AS (
  SELECT event_type,
         CAST(least(greatest(floor(value / 25.0), 0), 19) AS INT) AS bin
  FROM events WHERE value IS NOT NULL)
SELECT event_type, bin, 0.0 + bin * 25.0 AS bin_lo,
       0.0 + (bin + 1) * 25.0 AS bin_hi, count(*) AS n
FROM b GROUP BY event_type, bin
"""


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (operators/profile.py population_stability):
    PSI of events.value per event_type, first half-month vs second.
    Two histogram aggregates + a groups×bins join; additive smoothing
    keeps empty bins finite and the math deterministic, so the oracle
    replays it exactly (round-6 absorbs cross-engine ln ulps)."""
    from duo_spark.operators.profile import population_stability

    ev = _t(spark, sf_dir, "events").select("event_type", "value", _ts_us().alias("t"))
    cut = T_2024_01_15
    return population_stability(
        ev.filter(F.col("t") < cut),
        ev.filter(F.col("t") >= cut),
        "value", lo=0.0, hi=500.0, nbins=10, group_cols=["event_type"],
    )


SQL_DRIFT_PSI = """
WITH ev AS (
  SELECT event_type, value, epoch_us(ts) AS t FROM events WHERE value IS NOT NULL),
b AS (
  SELECT event_type, t < 1705276800000000 AS is_ref,
         CAST(least(greatest(floor(value / 50.0), 0), 9) AS INT) AS bin
  FROM ev),
h AS (
  SELECT event_type, bin,
         sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
         sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nc
  FROM b GROUP BY 1, 2),
tot AS (
  SELECT event_type, sum(nr) AS tr, sum(nc) AS tc FROM h GROUP BY 1)
SELECT h.event_type,
       round(sum(((h.nr + 0.5) / (t.tr + 5.0) - (h.nc + 0.5) / (t.tc + 5.0))
             * ln(((h.nr + 0.5) / (t.tr + 5.0)) / ((h.nc + 0.5) / (t.tc + 5.0)))), 6) AS psi
FROM h JOIN tot t ON h.event_type = t.event_type
GROUP BY 1
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (operators/funnel.py cohort_retention):
    users cohorted by first-event week, distinct-counted in each of
    the following 8 weeks they stayed active. Two shuffles total at
    any stream length; exact integer µs week indexing on both
    engines."""
    from duo_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events").select("user_id", _ts_us().alias("ts_us"))
    return cohort_retention(ev, period_us=604_800_000_000, max_periods=8)


SQL_COHORT_RETENTION = """
WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
first AS (
  SELECT user_id, min(t) // 604800000000 AS cohort FROM ev GROUP BY 1),
act AS (
  SELECT f.cohort, (e.t // 604800000000) - f.cohort AS period, e.user_id
  FROM ev e JOIN first f USING (user_id))
SELECT cohort, period, CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM act WHERE period < 8 GROUP BY 1, 2
"""


#: profiled columns: integer/varchar only — double/timestamp min/max
#: would hit engine-specific string rendering in the gate compare
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style table profile (operators/profile.py): per-column
    row/null/exact-distinct counts and min/max for the orders table,
    computed in ONE pass (a single wide aggregate — the multi-distinct
    rewrite keeps one scan + one shuffle of partial states)."""
    from duo_spark.operators.profile import profile_table

    return profile_table(_t(spark, sf_dir, "orders"), _PROFILE_COLS)


SQL_PROFILE_ORDERS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders"""
    for c in _PROFILE_COLS
)


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids (operators/similarity.py
    centroids_by_group): the elementwise mean of each label's vectors
    as 64 scalar avg aggregates in ONE map-side-combined hash
    aggregate — never a pandas UDF over collected vectors. Gate row
    keeps the first 4 dimensions plus the centroid L2 norm."""
    from duo_spark.operators.similarity import centroids_by_group

    emb = _t(spark, sf_dir, "embeddings")
    cent = centroids_by_group(emb, "label", "embedding", dim=64)
    nrm = F.sqrt(
        F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return cent.select(
        "label",
        "n",
        *[
            F.round(F.element_at("centroid", i), 6).alias(f"c{i}")
            for i in (1, 2, 3, 4)
        ],
        F.round(nrm, 6).alias("norm"),
    )


def q_service_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top service call paths (operators/traces.py top_service_paths):
    the 20 most frequent root→span service chains with their depth —
    the "most common call paths" rollup of a service map. BFS per
    level over a checkpointed child set; the count shuffle carries one
    row per DISTINCT path."""
    from duo_spark.operators.traces import top_service_paths

    return top_service_paths(spans_view(spark, sf_dir), k=20, max_depth=8)


SQL_SERVICE_PATHS = f"""
WITH RECURSIVE {SPANS_CTE.strip()},
walk(id, path, depth) AS (
  SELECT id, process_id, 0 FROM spans WHERE parent_id IS NULL
  UNION ALL
  SELECT s.id, w.path || '>' || s.process_id, w.depth + 1
  FROM spans s JOIN walk w ON s.parent_id = w.id
  WHERE w.depth < 8),
paths AS (SELECT DISTINCT id, path, depth FROM walk)
SELECT path, depth, CAST(count(*) AS BIGINT) AS n
FROM paths GROUP BY 1, 2
ORDER BY n DESC, path LIMIT 20
"""


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture re-weighting (operators/sampling.py
    temperature_rates, q_s ∝ p_s^0.5) over document sources, plus the
    realized doc count when each source's keep rate is applied through
    the deterministic hash sampler — one aggregate + broadcast rate
    join, scan-side filter."""
    from duo_spark.operators.sampling import temperature_rates, temperature_sample

    docs = _t(spark, sf_dir, "documents")
    rates = temperature_rates(docs, "source", alpha=0.5, target_rows=300)
    kept = (
        temperature_sample(docs, "source", alpha=0.5, target_rows=300, salt=11)
        .groupBy(F.col("source").alias("stratum"))
        .agg(F.count(F.lit(1)).alias("kept"))
    )
    return (
        rates.join(kept, "stratum", "left")
        .select(
            "stratum", "n", "p", "q", "keep_rate",
            F.coalesce("kept", F.lit(0)).alias("kept"),
        )
    )


SQL_TEMPERATURE_MIXTURE = """
WITH per AS (
  SELECT source AS stratum, CAST(count(*) AS DOUBLE) AS _n
  FROM documents GROUP BY 1),
tot AS (SELECT sum(_n) AS _tot, sum(pow(_n, 0.5)) AS _z FROM per),
rates AS (
  SELECT stratum, CAST(_n AS BIGINT) AS n,
         round(_n / _tot, 9) AS p,
         round(pow(_n, 0.5) / _z, 9) AS q,
         round(least(300.0 * (pow(_n, 0.5) / _z) / _n, 1.0), 9) AS keep_rate,
         least(300.0 * (pow(_n, 0.5) / _z) / _n, 1.0) AS _kr
  FROM per CROSS JOIN tot),
kept AS (
  SELECT d.source AS stratum, CAST(count(*) AS BIGINT) AS kept
  FROM documents d JOIN rates r ON d.source = r.stratum
  WHERE ((d.doc_id % 1000003) + 11) * 2654435761 % 1000000007
        < CAST(floor(r._kr * 1000000007) AS BIGINT)
  GROUP BY 1)
SELECT r.stratum, r.n, r.p, r.q, r.keep_rate, COALESCE(k.kept, 0) AS kept
FROM rates r LEFT JOIN kept k USING (stratum)
"""


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py
    containment_pairs): |A∩B|/|A| ≥ 0.8 with A the smaller shingle
    set — the subset-duplication case Jaccard banding misses.
    Candidates via the prefix-filtered inverted index (A posts its
    |A| - ⌈t·|A|⌉ + 1 globally-rarest tokens, B posts all), exact
    verify on the hashed sets; the oracle replays the exhaustive
    definition."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.containment_pairs(docs, "doc_id", "text", threshold=0.8)
    return pairs.select(
        "id_a", "id_b", F.round("containment", 6).alias("containment")
    )


SQL_CONTAINMENT_DEDUP = r"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM docs),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) AS containment
  FROM sh a JOIN sh b
    ON (len(a.s) < len(b.s)) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id))
SELECT id_a, id_b, round(containment, 6) AS containment
FROM pairs WHERE containment >= 0.8
"""


def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance ≤ 1) self-join on customer names
    (operators/fuzzy.py fuzzy_pairs): SymSpell deletion-neighborhood
    candidates (equi-join on single-deletion variants, one reused
    exchange) verified with exact Levenshtein — the short-string
    near-dup case shingle/minhash methods cannot express. The oracle
    replays the exhaustive all-pairs definition (safe at sf0.01)."""
    from duo_spark.operators.fuzzy import fuzzy_pairs

    cust = _t(spark, sf_dir, "customer")
    return fuzzy_pairs(cust, "c_custkey", "c_name", max_distance=1)


SQL_FUZZY_NAME_PAIRS = """
SELECT x.c_custkey AS id_a, y.c_custkey AS id_b,
       levenshtein(x.c_name, y.c_name) AS dist
FROM customer x JOIN customer y ON x.c_custkey < y.c_custkey
WHERE levenshtein(x.c_name, y.c_name) <= 1
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup (functions/url.py canonical_url):
    crawl-style URL variants (scheme/host case, default ports,
    tracking params, fragments, param order, trailing slashes) built
    deterministically from events collapse to canonical groups — the
    CCNet/RefinedWeb dedup key. Pure Column codegen end-to-end; the
    oracle replays every normalization step in SQL."""
    from duo_spark.functions.url import canonical_url

    ev = _t(spark, sf_dir, "events")
    item = (F.col("event_id") % 40).cast("string")
    qp = (F.col("user_id") % 5).cast("string")
    raw = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(F.lit("HTTPS://Shop.Example.COM:443/item/"), item,
                     F.lit("/?utm_source=feed&q="), qp, F.lit("#top")),
        )
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(F.lit("https://shop.example.com/item/"), item,
                     F.lit("?q="), qp),
        )
        .when(
            # round 8: RFC 3986 escapes — %69 ('i', unreserved) must
            # decode, %3<d> must decode to the digit, so this variant
            # collapses into the same canonical key as the others
            F.col("event_id") % 4 == 2,
            F.concat(F.lit("https://shop.example.com/%69tem/"), item,
                     F.lit("?q=%3"), qp),
        )
        .otherwise(
            F.concat(F.lit("http://Shop.example.com:80/item/"), item,
                     F.lit("/?q="), qp, F.lit("&utm_campaign=x")),
        )
    )
    from duo_spark.operators.util import ensure_parallelism

    # canonical_url is the CPU (4 regex extracts + pct transforms per
    # row) and the small events file arrives as ONE scan split — widen
    # before the projection so it runs cluster-wide (no-op at scale)
    return (
        ensure_parallelism(ev.select(raw.alias("raw")))
        .select("raw", canonical_url(F.col("raw")).alias("url"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("raw").alias("n_variants"),
        )
    )


def _sql_pct(expr: str) -> str:
    """DuckDB replay of functions/url.pct_normalize: split on '%',
    each later piece's first two chars are the escape hex — decode
    unreserved (RFC 3986 §2.3), uppercase the rest."""
    h = "('0x' || upper(p[1:2]))::INT"
    return (
        f"string_split({expr}, '%')[1] || "
        "coalesce(list_aggregate(list_transform("
        f"list_slice(string_split({expr}, '%'), 2, 1000000), "
        "p -> CASE WHEN NOT regexp_matches(p, '^[0-9A-Fa-f]{2}') THEN '%' || p "
        f"WHEN ({h} BETWEEN 48 AND 57) OR ({h} BETWEEN 65 AND 90) "
        f"OR ({h} BETWEEN 97 AND 122) OR {h} IN (45, 46, 95, 126) "
        f"THEN chr({h}) || p[3:] "
        "ELSE '%' || upper(p[1:2]) || p[3:] END), 'string_agg', ''), '')"
    )


SQL_URL_DEDUP = r"""
WITH raw AS (
  SELECT CASE event_id % 4
    WHEN 0 THEN 'HTTPS://Shop.Example.COM:443/item/' || CAST(event_id % 40 AS VARCHAR)
             || '/?utm_source=feed&q=' || CAST(user_id % 5 AS VARCHAR) || '#top'
    WHEN 1 THEN 'https://shop.example.com/item/' || CAST(event_id % 40 AS VARCHAR)
             || '?q=' || CAST(user_id % 5 AS VARCHAR)
    WHEN 2 THEN 'https://shop.example.com/%69tem/' || CAST(event_id % 40 AS VARCHAR)
             || '?q=%3' || CAST(user_id % 5 AS VARCHAR)
    ELSE 'http://Shop.example.com:80/item/' || CAST(event_id % 40 AS VARCHAR)
             || '/?q=' || CAST(user_id % 5 AS VARCHAR) || '&utm_campaign=x'
  END AS raw FROM events),
parts AS (
  SELECT raw,
    lower(regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 1)) AS scheme,
    lower(__PCT_AUTH__) AS authority,
    __PCT_PATH__ AS path,
    regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 4) AS query
  FROM raw),
norm AS (
  SELECT raw, scheme,
    CASE WHEN scheme = 'http'  AND authority LIKE '%:80'
           THEN left(authority, length(authority) - 3)
         WHEN scheme = 'https' AND authority LIKE '%:443'
           THEN left(authority, length(authority) - 4)
         ELSE authority END AS host,
    CASE WHEN path = '' THEN path
         WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(path, '/+$', '') END AS path_norm,
    list_sort(list_filter(
      list_transform(string_split(query, '&'), q0 -> __PCT_Q__),
      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|ref)='))) AS kept
  FROM parts),
canon AS (
  SELECT raw,
    CASE WHEN scheme = '' THEN NULL
         ELSE scheme || '://' || host || path_norm ||
              CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END
    END AS url
  FROM norm)
SELECT url, count(*) AS n_raw, count(DISTINCT raw) AS n_variants
FROM canon GROUP BY url
""".replace(
    "__PCT_AUTH__",
    _sql_pct(r"regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 2)"),
).replace(
    "__PCT_PATH__",
    _sql_pct(r"regexp_extract(raw, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?$', 3)"),
).replace("__PCT_Q__", _sql_pct("q0"))


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection (operators/graph.py label_propagation):
    3 synchronous weighted rounds over the span parent↔child graph,
    summarized as the 100 largest community sizes. Deterministic by
    construction (sync updates + min-label tie-break), so the oracle
    replays the rounds as chained SQL. Thinned to every third trace —
    the same gate-scale discipline as streaming_span_merge's modulo
    (three full rounds over a third of the graph exercise identical
    plan shapes; SCALING.md probes the full graph)."""
    from duo_spark.operators.graph import label_propagation

    spans = spans_view(spark, sf_dir)
    edges = spans.filter(
        F.col("parent_id").isNotNull() & (F.col("trace_id") % 3 == 0)
    ).select(F.col("parent_id").alias("src"), F.col("id").alias("dst"))
    lab = label_propagation(edges, iterations=3)
    return (
        lab.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("label"))
        .limit(100)
    )


def _lpa_sql(iterations: int = 3) -> str:
    parts = [
        """und AS (
  SELECT parent_id AS s, id AS d, 1.0 AS w FROM spans
  WHERE parent_id IS NOT NULL AND trace_id % 3 = 0
  UNION ALL
  SELECT id, parent_id, 1.0 FROM spans
  WHERE parent_id IS NOT NULL AND trace_id % 3 = 0),
nodes AS (SELECT DISTINCT s AS node FROM und),
l0 AS (SELECT node, node AS label FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""c{i} AS (
  SELECT u.s AS node, l.label, sum(u.w) AS wt
  FROM und u JOIN l{i - 1} l ON u.d = l.node GROUP BY 1, 2),
b{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY wt DESC, label) AS rn
    FROM c{i}) WHERE rn = 1),
l{i} AS (
  SELECT p.node, COALESCE(b.label, p.label) AS label
  FROM l{i - 1} p LEFT JOIN b{i} b USING (node))""")
    body = ",\n".join(parts)
    return (
        f"WITH {SPANS_CTE.strip()},\n{body}\n"
        f"SELECT label, CAST(count(*) AS BIGINT) AS n FROM l{iterations} "
        "GROUP BY 1 ORDER BY n DESC, label LIMIT 100"
    )


SQL_LABEL_PROPAGATION = _lpa_sql(3)


def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rollup table (streaming/rollup.py):
    per-event-type count/sum/min/max merged into a versioned
    parquet-backed materialized view across two micro-batches
    (foreachBatch partial-merge; replayed batches re-merge into their
    true predecessor version, so the table equals the one-shot batch
    GROUP BY on any schedule — which is exactly what the oracle
    runs)."""
    import uuid as _uuid

    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.rollup import read_rollup, streaming_rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        _ts_us().alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    run = _scratch("srollup", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "event_id long, event_type string, ts_us long, cents long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_rollup(
        stream,
        ["event_type"],
        {
            "n": ("count", "event_id"),
            "sum_cents": ("sum", "cents"),
            "min_ts": ("min", "ts_us"),
            "max_ts": ("max", "ts_us"),
        },
        out_dir=f"{run}/rollup",
        checkpoint_dir=f"{run}/ckpt",
    )
    q.awaitTermination()
    return read_rollup(spark, f"{run}/rollup").select(
        "event_type", "n", "sum_cents", "min_ts", "max_ts"
    )


SQL_STREAMING_ROLLUP = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(round(value * 100)) AS BIGINT) AS sum_cents,
       min(epoch_us(ts)) AS min_ts, max(epoch_us(ts)) AS max_ts
FROM events GROUP BY 1
"""


SQL_EMBEDDING_CENTROIDS = """
WITH d AS (
  SELECT e.label, t.i, avg(CAST(e.embedding[t.i] AS DOUBLE)) AS m
  FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
  GROUP BY 1, 2),
cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n FROM embeddings GROUP BY 1),
agg AS (
  SELECT label,
         sum(CASE WHEN i = 1 THEN m END) AS c1,
         sum(CASE WHEN i = 2 THEN m END) AS c2,
         sum(CASE WHEN i = 3 THEN m END) AS c3,
         sum(CASE WHEN i = 4 THEN m END) AS c4,
         sqrt(sum(m * m)) AS nrm
  FROM d GROUP BY label)
SELECT a.label, cnt.n, round(c1, 6) AS c1, round(c2, 6) AS c2,
       round(c3, 6) AS c3, round(c4, 6) AS c4, round(nrm, 6) AS norm
FROM agg a JOIN cnt USING (label)
"""


SQL_ZORDER_LAYOUT = """
WITH src AS (
  SELECT (epoch_us(ts) // 60000000) % 65536 AS x, user_id % 65536 AS y
  FROM events),
s0 AS (SELECT x, y, x AS sx, y AS sy FROM src),
s1 AS (SELECT x, y, (sx | (sx << 8)) & 16711935 AS sx,
                    (sy | (sy << 8)) & 16711935 AS sy FROM s0),
s2 AS (SELECT x, y, (sx | (sx << 4)) & 252645135 AS sx,
                    (sy | (sy << 4)) & 252645135 AS sy FROM s1),
s3 AS (SELECT x, y, (sx | (sx << 2)) & 858993459 AS sx,
                    (sy | (sy << 2)) & 858993459 AS sy FROM s2),
s4 AS (SELECT x, y, (sx | (sx << 1)) & 1431655765 AS sx,
                    (sy | (sy << 1)) & 1431655765 AS sy FROM s3),
zz AS (SELECT x, y, (sx | (sy << 1)) >> 26 AS file_id FROM s4)
SELECT file_id, CAST(count(*) AS BIGINT) AS n,
       min(x) AS min_minute, max(x) AS max_minute,
       min(y) AS min_user, max(y) AS max_user
FROM zz GROUP BY file_id
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (operators/search.py): top-20 documents
    for a 4-term query, scored with the Lucene non-negative idf. Both
    sides order by the ROUNDED score (then doc_id) so the cross-engine
    float boundary can't reorder the cut."""
    from duo_spark.operators import search

    docs = _t(spark, sf_dir, "documents")
    scored = search.bm25_scores(docs, ["merge", "spark", "vector", "window"])
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


SQL_BM25 = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(ts)) AS avgdl FROM toks),
hits AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS t FROM toks),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM hits WHERE t IN ('merge', 'spark', 'vector', 'window')
  GROUP BY doc_id, t),
dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1 + (n - dft + 0.5) / (dft + 0.5))
             * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS score
  FROM tf JOIN dft USING (t) CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS score FROM scored
ORDER BY round(score, 6) DESC, doc_id LIMIT 20
"""


def q_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding (operators/sharding.py): every document
    assigned a shard so consecutive-by-id docs pack ~1000 tokens per
    shard. The Spark path is the two-level running sum (range
    partition + per-partition window + broadcast offsets — no global
    single-partition sort); the oracle is the naive global window."""
    from duo_spark.operators import search as search_ops
    from duo_spark.operators.sharding import pack_token_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(search_ops.search_tokens("text")).cast("long").alias("n_tokens")
    )
    return pack_token_shards(docs, budget=1000)


SQL_TOKEN_SHARDS = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM toks)
SELECT doc_id, n_tokens, CAST(start // 1000 AS BIGINT) AS shard_id FROM cum
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language hash sampling (operators/sampling.py):
    rebalance the corpus (keep 50% en, 20% others). Pure scan-side
    filter arithmetic — the oracle replays the identical modular hash,
    which is why the hash is multiplicative-modular and not xxhash64."""
    from duo_spark.operators.sampling import stratified_hash_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(
        docs, {"en": 0.5}, strata_col="lang", default_fraction=0.2, salt=7
    )


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ((doc_id % 1000003 + 7) * 2654435761) % 1000000007
      < CASE WHEN lang = 'en' THEN 500000003 ELSE 200000001 END
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hamming<=3 pair set: (max_hamming+1)-block banding has
    guaranteed recall (pigeonhole), so the output is deterministic.

    Gate variant hashes words with the md5-derived 60-bit hash
    (dedup.md5_word_hash) so DuckDB can replay the ENTIRE pipeline —
    signature majority vote, xor, popcount — from the raw text; the
    oracle brute-forces all pairs, proving both the signature math and
    the banded join's guaranteed recall. Production default stays
    xxhash64 (pinned equal in behavior by tests/test_dedup.py)."""
    docs = _docs(spark, sf_dir)
    return dedup.simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=3, word_hash=dedup.md5_word_hash
    )


SQL_SIMHASH = """
WITH hs AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split_regex(trim(text), '\\s+')),
                        w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS h
  FROM documents),
bits AS (
  SELECT doc_id, b,
         CASE WHEN 2 * len(list_filter(h, x -> ((x >> b) & 1) = 1)) > len(h)
              THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bv
  FROM hs, range(60) t(b)),
sig AS (SELECT doc_id, sum(bv)::BIGINT AS sig FROM bits GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= 3
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned ANN with the pruning REPLAYED by the oracle: the
    hyperplane constants (make_hyperplanes, driver-side deterministic)
    are inlined into the DuckDB SQL, which recomputes every row's 4
    sign-buckets, applies the identical Hamming-radius-2 multiprobe
    admission, and ranks the admitted candidates by exact cosine — the
    same replicate-the-pruning pattern SQL_IVF_SEARCH uses. Bit j of
    table t is sign(dot(v, plane_{t,j}) ) in float64 on both engines;
    sign flips would need |dot| at float-roundoff scale (~1e-13), far
    below the data's dot magnitudes."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    topk = similarity.cosine_topk_lsh(emb, list(qvec), k=10, exclude_ids=[0])
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


def _lsh_planes_values(n_tables: int = 4, n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """SQL VALUES literal of the hyperplane constants (t, j, p) — the
    same floats make_hyperplanes feeds the Spark-side bucket UDF
    (repr() round-trips float64 exactly)."""
    rows = []
    for t in range(n_tables):
        for j, p in enumerate(similarity.make_hyperplanes(dim, n_planes, seed + t)):
            vec = "[" + ", ".join(repr(x) for x in p) + "]"
            rows.append(f"({t}, {j}, {vec}::DOUBLE[])")
    return ",\n".join(rows)


SQL_ANN_LSH = f"""
WITH planes(t, j, p) AS (VALUES {_lsh_planes_values()}),
q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id = 0),
qb AS (
  SELECT t, sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> p[i] * qv[i])) >= 0
                THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS qb
  FROM planes, q GROUP BY t),
rows_ AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id <> 0),
rb AS (
  SELECT vec_id, t,
         sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> p[i] * v[i])) >= 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS b
  FROM rows_, planes GROUP BY vec_id, t),
cand AS (
  SELECT DISTINCT rb.vec_id FROM rb JOIN qb USING (t)
  WHERE bit_count(xor(rb.b, qb.qb)) <= 2),
cos AS (
  SELECT r.vec_id,
         list_sum(list_transform(range(1, 65), i -> r.v[i] * q.qv[i]))
           / (sqrt(list_sum(list_transform(r.v, x -> x * x)))
              * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
  FROM rows_ r JOIN cand USING (vec_id), q)
SELECT vec_id, round(cos, 6) AS cosine
FROM cos ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas media feature extraction, ORACLE-REPLAYED: the
    default decoder's slot-0 rolling byte hash (acc = (acc*31 + byte)
    % 997 over bytes at positions 0, 8, 16, ...) is recomputed by
    DuckDB from the same text via list_reduce over per-char code
    points (the corpus is pure ASCII — octet_length(encode(text)) ==
    length(text) for every row, so code point == byte). The feature
    rides as float32 a/997; multiplying back by 997 and rounding
    recovers the integer accumulator EXACTLY (float32 eps * 997 <<
    0.5), so the compare is integer-exact — no float hazards."""
    from duo_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("text-blob").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.element_at("feature", 1) * 997).cast("long").alias("f0_acc"),
    )


SQL_MULTIMODAL_FEATURES = """
WITH chars AS (
  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         list_transform(range(1, length(text) + 1),
                        i -> unicode(substr(text, i, 1))) AS cs
  FROM documents)
SELECT doc_id AS media_id, n_bytes,
       CAST(list_reduce(list_prepend(0, list_filter(cs, (x, i) -> (i - 1) % 8 = 0)),
                        (a, b) -> (a * 31 + b) % 997) AS BIGINT) AS f0_acc
FROM chars
"""


def q_timing_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1+C2+C3 round-trip: span durations (µs) -> the reference's
    human strings (format_timing, duo/src/models.rs:186-195) -> parsed
    back per-row (parse_duration_us_col, duo/src/web/deser.rs:241-252),
    with derived columns hitting all three unit branches (us/ms/s).

    Durations that are multiples of 125 µs are excluded ON BOTH SIDES:
    those are exactly the values where d/1000 (or d/1e6) is binary-
    representable with a third decimal digit of 5, and Java's %.2f
    (HALF_UP) and DuckDB's printf (round-half-even) disagree on exact
    ties. Every other value rounds identically from the same double.
    """
    spans = spans_view(spark, sf_dir)
    dur = F.col("end") - F.col("start")
    human = time_fns.format_timing(dur)
    return (
        spans.filter(F.col("end").isNotNull() & (dur % 125 != 0))
        .select(
            "id",
            dur.alias("duration_us"),
            time_fns.format_timing(dur % 1_000).alias("human_us"),
            time_fns.format_timing(dur % 1_000_000).alias("human_ms"),
            human.alias("human"),
            time_fns.parse_duration_us_col(human).alias("parsed_us"),
        )
    )


SQL_TIMING_CODEC = f"""
WITH {SPANS_CTE},
d AS (
  SELECT id, "end" - "start" AS duration_us
  FROM spans WHERE "end" IS NOT NULL AND ("end" - "start") % 125 <> 0),
fmt AS (
  SELECT id, duration_us,
    CAST(duration_us % 1000 AS VARCHAR) || 'us' AS human_us,
    CASE WHEN duration_us % 1000000 < 1000
           THEN CAST(duration_us % 1000000 AS VARCHAR) || 'us'
         ELSE printf('%.2fms', (duration_us % 1000000) / 1000.0) END AS human_ms,
    CASE WHEN duration_us < 1000 THEN CAST(duration_us AS VARCHAR) || 'us'
         WHEN duration_us < 1000000 THEN printf('%.2fms', duration_us / 1000.0)
         ELSE printf('%.2fs', duration_us / 1000000.0) END AS human
  FROM d)
SELECT id, duration_us, human_us, human_ms, human,
  CAST(floor(CAST(regexp_extract(human, '^(\\d+(?:\\.\\d+)?)', 1) AS DOUBLE) *
       CASE WHEN human LIKE '%ms' THEN 1000.0
            WHEN human LIKE '%us' THEN 1.0
            ELSE 1000000.0 END) AS BIGINT) AS parsed_us
FROM fmt
"""


def q_level_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5 both directions per-row: level string -> proto int -> string
    round-trip (duo-api/src/common.rs:39-60), plus decode of an
    arbitrary int probe (span_id % 6 + 1 — the 6 exercises the
    out-of-range NULL path of the fallible conversion)."""
    logs = events_as_logs(spark, sf_dir)
    num = codec_fns.level_to_int(F.col("level"))
    probe = (F.col("span_id") % 6 + 1).cast("int")
    return logs.select(
        "span_id",
        "level",
        num.alias("level_num"),
        codec_fns.level_from_int(num).alias("level_rt"),
        codec_fns.level_from_int(probe).alias("level_probe"),
    )


SQL_LEVEL_CODEC = f"""
WITH {LOGS_CTE}
SELECT span_id, level,
  CASE level WHEN 'ERROR' THEN 1 WHEN 'WARN' THEN 2 WHEN 'INFO' THEN 3
             WHEN 'DEBUG' THEN 4 WHEN 'TRACE' THEN 5 END AS level_num,
  list_extract(['ERROR','WARN','INFO','DEBUG','TRACE'],
    CASE level WHEN 'ERROR' THEN 1 WHEN 'WARN' THEN 2 WHEN 'INFO' THEN 3
               WHEN 'DEBUG' THEN 4 WHEN 'TRACE' THEN 5 END) AS level_rt,
  list_extract(['ERROR','WARN','INFO','DEBUG','TRACE'],
    CAST(span_id % 6 + 1 AS INT)) AS level_probe
FROM logs
"""


def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1+S2+compaction end-to-end: logs written minute-grained through
    the store, compacted to hour files (PartitionedStore.compact), read
    back through the store. Compaction must be semantically invisible —
    the oracle is the plain logs aggregate — and the demoted ``minute``
    partition column must survive as a data column with its written
    string values."""
    import uuid as _uuid

    from duo_spark.sources.store import PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    logs = events_as_logs(spark, sf_dir)
    store = PartitionedStore(
        spark, _scratch("gate-compact", _uuid.uuid4().hex), granularity="minute"
    )
    store.write(logs, "log", time_col="time")
    store.compact("log", to_granularity="hour")
    return store.read("log").groupBy("process_id", "level").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
        F.countDistinct("minute").alias("minutes"),
    )


SQL_COMPACTION_ROUNDTRIP = f"""
WITH {LOGS_CTE}
SELECT process_id, level, CAST(count(*) AS BIGINT) AS n,
       MIN("time") AS min_time, MAX("time") AS max_time,
       CAST(COUNT(DISTINCT strftime(make_timestamp("time"), '%M')) AS BIGINT) AS minutes
FROM logs GROUP BY process_id, level
"""


#: retention cutoff: mid-minute (…T00:00:30Z) so the boundary minute
#: partition is only PARTIALLY aged and must survive with all its rows
RETENTION_CUTOFF_US = 1_705_276_830_000_000  # 2024-01-15T00:00:30Z


def q_store_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention end-to-end (PartitionedStore.expire): logs written
    minute-grained, every fully-aged minute directory dropped via FS
    metadata deletes, survivors read back. The oracle replays the
    partition-granular cutoff arithmetically — a row survives iff its
    minute's END lies after the cutoff, so the boundary minute keeps
    its older-than-cutoff rows (the documented semantics)."""
    import uuid as _uuid

    from duo_spark.sources.store import PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    day_us = 86_400_000_000
    # a 4-day slice around the cutoff: two fully-aged days (whole-date
    # deletes), the boundary day (minute-level deletes + the partially
    # aged survivor minute), one fully-live day — full semantics
    # coverage without materializing a month of minute directories
    lo = RETENTION_CUTOFF_US - 2 * day_us
    hi = RETENTION_CUTOFF_US + day_us
    logs = events_as_logs(spark, sf_dir).filter(
        (F.col("time") >= lo) & (F.col("time") < hi)
    )
    store = PartitionedStore(
        spark, _scratch("gate-retention", _uuid.uuid4().hex), granularity="minute"
    )
    store.write(logs, "log", time_col="time")
    store.expire("log", RETENTION_CUTOFF_US)
    return store.read("log").groupBy("level").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
    )


SQL_STORE_RETENTION = f"""
WITH {LOGS_CTE},
win AS (
  SELECT * FROM logs
  WHERE "time" >= {RETENTION_CUTOFF_US - 2 * 86_400_000_000}
    AND "time" < {RETENTION_CUTOFF_US + 86_400_000_000}),
kept AS (
  SELECT * FROM win
  WHERE ("time" // 60000000) * 60000000 + 60000000 > {RETENTION_CUTOFF_US})
SELECT level, CAST(count(*) AS BIGINT) AS n,
       MIN("time") AS min_time, MAX("time") AS max_time
FROM kept GROUP BY level
"""


#: prefix-pruned range endpoints: deliberately mid-hour / mid-minute so
#: the enumerator's floor/ceil edges AND the residual µs filter both bite
PRUNE_START_US = T_2024_01_05 + (3 * 3600 + 27 * 60) * 1_000_000 + 500_000
PRUNE_END_US = T_2024_01_05 + (2 * 86400 + 14 * 3600 + 5 * 60 + 30) * 1_000_000 + 500_000


def q_store_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+K1+S2 end-to-end: logs written hour-granular through the
    store, read back via read_range — generate_prefixes (the
    reference's TimePeriod, duo/src/utils.rs:36-181) enumerates the
    covering directories, the reader lists ONLY those, and a residual
    µs filter trims the edge hours. Pruning must be semantically
    invisible, so the oracle is the plain time-filtered aggregate."""
    import uuid as _uuid

    from duo_spark.sources.store import PartitionedStore
    from duo_spark.streaming.pipeline import _scratch

    logs = events_as_logs(spark, sf_dir)
    store = PartitionedStore(
        spark, _scratch("gate-prune", _uuid.uuid4().hex), granularity="hour"
    )
    store.write(logs, "log", time_col="time")
    return (
        store.read_range("log", PRUNE_START_US, PRUNE_END_US)
        .groupBy("level")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("time").alias("min_time"),
            F.max("time").alias("max_time"),
            F.countDistinct("span_id").alias("spans"),
        )
    )


SQL_STORE_PRUNED_SCAN = f"""
WITH {LOGS_CTE}
SELECT level, CAST(count(*) AS BIGINT) AS n,
       MIN("time") AS min_time, MAX("time") AS max_time,
       CAST(COUNT(DISTINCT span_id) AS BIGINT) AS spans
FROM logs
WHERE "time" >= {PRUNE_START_US} AND "time" <= {PRUNE_END_US}
GROUP BY level
"""


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search: nprobe=2 of 4 deterministic cells (first 4
    vectors as centroids), exact cosine top-5 within the probed cells.
    The oracle replicates the pruning exactly, so the comparison is
    bit-deterministic, not recall-approximate."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        list(r.embedding)
        for r in emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    queries = emb.filter(F.col("vec_id").isin(0, 7, 13)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    topk = similarity.ivf_search(emb, queries, cents, k=5, nprobe=2)
    return topk.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


SQL_IVF_SEARCH = """
WITH c AS (
  SELECT list(embedding ORDER BY vec_id) AS cents
  FROM embeddings WHERE vec_id < 4),
sims AS (
  SELECT e.vec_id, e.embedding,
         list_transform(c.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c),
cells AS (
  SELECT vec_id, embedding,
         CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
              WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
              WHEN sims[3] >= sims[4] THEN 2
              ELSE 3 END AS cell
  FROM sims),
probes AS (
  SELECT s.vec_id AS query_id, s.embedding AS qe, t.i - 1 AS cell,
         row_number() OVER (PARTITION BY s.vec_id
             ORDER BY s.sims[t.i] DESC, t.i ASC) AS prn
  FROM sims s CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS i) t
  WHERE s.vec_id IN (0, 7, 13)),
cand AS (
  SELECT p.query_id, cl.vec_id,
         list_sum(list_transform(range(1, 65),
             i -> CAST(cl.embedding[i] AS DOUBLE) * p.qe[i]))
         / (sqrt(list_sum(list_transform(cl.embedding, x -> CAST(x AS DOUBLE)*x)))
          * sqrt(list_sum(list_transform(p.qe, x -> CAST(x AS DOUBLE)*x)))) AS cos
  FROM probes p JOIN cells cl ON cl.cell = p.cell
  WHERE p.prn <= 2),
ranked AS (
  SELECT query_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM cand)
SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal (operators/text.py
    repetition_ratio): most-frequent-trigram mass per document. One
    (doc, gram) shuffle with map-side combine — linear at any scale."""
    docs = _docs(spark, sf_dir)
    rep = text.repetition_ratio(docs, "doc_id", "text", n=3)
    return rep.select(
        "doc_id",
        "top_ngram_count",
        "ngram_count",
        F.round("repetition_ratio", 6).alias("repetition_ratio"),
    )


SQL_REPETITION_RATIO = r"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
grams AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS g
  FROM docs),
pg AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
SELECT doc_id, CAST(max(c) AS BIGINT) AS top_ngram_count,
       CAST(sum(c) AS BIGINT) AS ngram_count,
       round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS repetition_ratio
FROM pg GROUP BY doc_id
"""


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontam.py): every ~97th
    document plays the eval-benchmark probe set; corpus docs holding
    ≥50% of a probe's distinct trigrams are flagged with their worst
    containment. The probe index is broadcast — the corpus never
    shuffles for candidate generation."""
    from duo_spark.operators.decontam import contaminated_docs

    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    out = contaminated_docs(docs, probes, threshold=0.5, n=3)
    return out.select(
        "doc_id",
        F.round("max_containment", 6).alias("max_containment"),
        "n_probes",
    )


SQL_DECONTAM = r"""
WITH d AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS g
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)),
p AS (SELECT doc_id AS probe_id, g AS pg FROM d WHERE doc_id % 97 = 0),
pairs AS (
  SELECT d.doc_id, p.probe_id,
         CAST(len(list_intersect(d.g, p.pg)) AS DOUBLE) / len(p.pg) AS containment
  FROM d CROSS JOIN p),
hits AS (SELECT * FROM pairs WHERE containment >= 0.5)
SELECT doc_id, round(max(containment), 6) AS max_containment,
       CAST(count(*) AS BIGINT) AS n_probes
FROM hits GROUP BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/text.py scrub_pii): email / digit-run /
    phone spans replaced with typed placeholders. Pure scan-side
    regexp projection — the md5 keeps the gate row narrow while still
    pinning every byte of the scrubbed text."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(text.scrub_pii("text")).alias("scrub_md5")
    )


def _pii_scrub_sql() -> str:
    """Build the oracle from the SAME pattern table the operator uses
    (text.PII_PATTERNS is RE2-safe by construction, so DuckDB replays
    it byte-for-byte)."""
    expr = "text"
    for pat, repl in text.PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, md5({expr}) AS scrub_md5 FROM documents"


SQL_PII_SCRUB = _pii_scrub_sql()


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF centroid training (operators/similarity.py kmeans_fit): ONE
    Lloyd iteration from the deterministic first-4 init, then a final
    assignment against the trained centroids. Output per cell: member
    count and mean cosine to the trained centroid. The oracle replays
    init → assign → recenter → reassign exactly, so the gate checks the
    full training loop, not just one assignment."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, 4, max_iter=1)
    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cents)], "_cell int, _cent array<double>"
    )
    assigned = similarity.ivf_assign(emb, cents)
    return (
        assigned.join(F.broadcast(cdf), "_cell")
        .groupBy(F.col("_cell").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.avg(similarity.cosine(F.col("embedding"), F.col("_cent"))), 6
            ).alias("avg_cosine"),
        )
    )


SQL_KMEANS = """
WITH c0 AS (
  SELECT list(embedding ORDER BY vec_id) AS cents
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)),
s0 AS (
  SELECT e.vec_id, e.embedding,
         list_transform(c0.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c0),
a0 AS (
  SELECT vec_id, embedding,
         CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
              WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
              WHEN sims[3] >= sims[4] THEN 2
              ELSE 3 END AS cell
  FROM s0),
c1m AS (
  SELECT cell, list(mv ORDER BY i) AS m
  FROM (SELECT cell, t.i AS i, avg(CAST(embedding[t.i] AS DOUBLE)) AS mv
        FROM a0 CROSS JOIN range(1, 65) t(i)
        GROUP BY cell, t.i)
  GROUP BY cell),
-- empty cells keep their previous centroid (kmeans_fit's rule): left
-- join the recentered means against all 4 cell ids, falling back to c0
c1 AS (
  SELECT list(COALESCE(c1m.m,
              list_transform(c0.cents[g.cell + 1], x -> CAST(x AS DOUBLE)))
              ORDER BY g.cell) AS cents
  FROM range(4) g(cell) LEFT JOIN c1m ON c1m.cell = g.cell CROSS JOIN c0),
s1 AS (
  SELECT e.vec_id, e.embedding,
         list_transform(c1.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c1),
a1 AS (
  SELECT vec_id,
         CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
              WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
              WHEN sims[3] >= sims[4] THEN 2
              ELSE 3 END AS cell,
         sims
  FROM s1)
SELECT cell, CAST(count(*) AS BIGINT) AS n,
       round(avg(sims[cell + 1]), 6) AS avg_cosine
FROM a1 GROUP BY cell
"""


def q_asof_span_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of correlation (operators/asof.py): each root span picks up
    the latest log line in its trace at or before the span start —
    the time-proximity generalization of span_log_correlation's exact
    join, and the point-in-time-correct lookup of feature pipelines.
    The log side is pre-aggregated to one row per (trace, time), so
    the as-of match is tie-free and DuckDB's native ASOF JOIN replays
    it exactly."""
    from duo_spark.operators.asof import asof_join

    spans = (
        spans_view(spark, sf_dir)
        .filter(F.col("parent_id").isNull())
        .select("id", "trace_id", "start")
    )
    logs = (
        events_as_logs(spark, sf_dir)
        .groupBy("trace_id", "time")
        .agg(F.count(F.lit(1)).alias("n_logs"))
    )
    out = asof_join(spans, logs, on="trace_id", left_time="start", right_time="time")
    return out.select(
        "id", "trace_id", "start",
        F.col("_asof_time").alias("log_time"), "n_logs",
    )


SQL_ASOF_SPAN_LOG = f"""
WITH {LOGS_CTE},
l AS (SELECT trace_id, "time" AS lt, CAST(count(*) AS BIGINT) AS n_logs
      FROM logs GROUP BY 1, 2),
s AS (SELECT o_orderkey * 10 AS id, o_orderkey AS trace_id,
             epoch_us(o_orderdate) AS "start" FROM orders)
SELECT s.id, s.trace_id, s."start", l.lt AS log_time, l.n_logs
FROM s ASOF LEFT JOIN l ON s.trace_id = l.trace_id AND s."start" >= l.lt
"""

#: sessionization gap: one hour of event-time silence starts a new session
SESSION_GAP_US = 3_600_000_000


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators/sessions.py): per-user
    sessions over the event stream with a 1-hour silence boundary.
    One key-partitioned sort shuffle; the stats groupBy reuses the
    same partitioning."""
    from duo_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events").select("user_id", _ts_us().alias("t_us"))
    s = session_stats(ev, "user_id", "t_us", SESSION_GAP_US)
    return s.select(
        "user_id", "session_idx", "n_events",
        F.col("start").alias("start_us"),
        F.col("end").alias("end_us"),
        F.col("duration").alias("duration_us"),
    )


SQL_SESSIONIZE = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
m AS (SELECT user_id, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                       >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS b
      FROM e),
s AS (SELECT user_id, t,
             CAST(sum(b) OVER (PARTITION BY user_id ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM m)
SELECT user_id, session_idx, CAST(count(*) AS BIGINT) AS n_events,
       min(t) AS start_us, max(t) AS end_us, max(t) - min(t) AS duration_us
FROM s GROUP BY 1, 2
"""


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service span-duration percentiles (p50/p95/p99) — the
    latency-SLO rollup every tracing UI draws. Uses Spark's EXACT
    `percentile` (linear interpolation, the same type-7 formula as
    DuckDB's quantile_cont) so the gate is bit-comparable; the
    documented approximate alternative at 100 TB is
    `percentile_approx`, identical plan shape with bounded memory."""
    spans = spans_view(spark, sf_dir)
    dur = (F.col("end") - F.col("start")).alias("dur")
    return (
        spans.select("process_id", dur)
        .groupBy("process_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.expr("percentile(dur, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(dur, 0.95)"), 4).alias("p95"),
            F.round(F.expr("percentile(dur, 0.99)"), 4).alias("p99"),
        )
    )


SQL_LATENCY_PERCENTILES = f"""
WITH {SPANS_CTE}
SELECT process_id, CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont("end" - "start", 0.5), 4) AS p50,
       round(quantile_cont("end" - "start", 0.95), 4) AS p95,
       round(quantile_cont("end" - "start", 0.99), 4) AS p99
FROM spans GROUP BY process_id
"""


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (streaming/dedup.py) through the REAL
    Structured Streaming path: the documents table staged as two
    file-drops (odd then even doc ids, so cross-batch duplicates are
    exercised), drained availableNow into a memory sink. Output is the
    per-survivor content hash — which arrival survives a tie is
    runtime-dependent, but the surviving CONTENT SET equals the batch
    distinct set on any schedule, which is what the oracle pins."""
    import uuid as _uuid

    from duo_spark.streaming.dedup import streaming_dedup_exact
    from duo_spark.streaming.pipeline import _scratch

    # constant event time: the watermark then never outruns a later
    # batch (dedup needs no time ordering; state eviction timing is
    # irrelevant to the gate)
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        "text",
    )
    run = _scratch("sdedup", _uuid.uuid4().hex)
    src = f"{run}/in"
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    surv = streaming_dedup_exact(stream, "text", "ts", watermark="1 hour")
    name = f"sdedup_{_uuid.uuid4().hex[:8]}"
    q = (
        surv.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.sql(f"SELECT text FROM {name}")
        .select(
            F.md5(
                F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
            ).alias("content_hash")
        )
    )


SQL_STREAMING_DEDUP = r"""
SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash
FROM documents
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (operators/text.py
    unigram_lm_score): corpus-trained token frequencies, per-doc mean
    negative log-prob."""
    docs = _docs(spark, sf_dir)
    out = text.unigram_lm_score(docs, "doc_id", "text")
    return out.select(
        "doc_id", "n_tokens", F.round("lm_score", 6).alias("lm_score")
    )


SQL_LM_SCORE = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents),
vocab AS (SELECT t, CAST(count(*) AS DOUBLE) AS c FROM toks GROUP BY t),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(ln(n / c)), 6) AS lm_score
FROM toks JOIN vocab USING (t) CROSS JOIN tot
GROUP BY doc_id
"""


def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data prep pipeline end to end, one lazy plan:
    quality gate (operators/text.py) → exact dedup with deterministic
    canonical keeper (operators/dedup.py) → token-budget sharding
    (operators/sharding.py) → per-shard packing stats. Composition is
    the point: every stage is the already-gated operator, chained the
    way a real corpus build would chain them, and Catalyst still sees
    one plan (the quality filter pushes into the scan under the
    dedup's aggregate)."""
    from duo_spark.operators.sharding import pack_token_shards

    docs = _docs(spark, sf_dir)
    feats = text.quality_features(docs, "text")
    good = feats.filter(
        (F.col("n_tokens") >= 5) & (F.col("stopword_ratio") <= 0.6)
    )
    keep = dedup.exact_duplicates(good, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    kept = good.join(keep, "doc_id").select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens")
    )
    shards = pack_token_shards(kept, budget=2000)
    return shards.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


SQL_PIPELINE_E2E = r"""
WITH feats AS (
  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS tok
  FROM documents),
q AS (
  SELECT doc_id, text, CAST(len(tok) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(tok, t -> list_contains(
             ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
           / greatest(len(tok), 1) AS sr
  FROM feats),
good AS (SELECT * FROM q WHERE n_tokens >= 5 AND sr <= 0.6),
keep AS (
  SELECT min(doc_id) AS doc_id FROM good
  GROUP BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))),
kept AS (SELECT g.doc_id, g.n_tokens FROM good g JOIN keep USING (doc_id)),
cum AS (
  SELECT doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
  FROM kept)
SELECT CAST(s // 2000 AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM cum GROUP BY 1
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (operators/similarity.py
    semantic_dedup): one-iteration k-means cells over the embeddings,
    within-cell cosine pairs at 0.4, pair→group resolution via
    connected components, canonical keeper = group minimum. The oracle
    replays the identical kmeans iteration (init → assign → recenter
    with the empty-cell keep-previous rule → reassign), the within-cell
    pair pruning, and a recursive-CTE transitive closure — so the gate
    checks the full composed pipeline, cells included."""
    emb = _t(spark, sf_dir, "embeddings")
    out = similarity.semantic_dedup(emb, threshold=0.4, k=4, kmeans_iter=1)
    return out.select("vec_id", "cell", "dup_group", "is_canonical")


SQL_SEMANTIC_DEDUP = """
WITH RECURSIVE c0 AS (
  SELECT list(embedding ORDER BY vec_id) AS cents
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 4)),
s0 AS (
  SELECT e.vec_id, e.embedding,
         list_transform(c0.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c0),
a0 AS (
  SELECT vec_id, embedding,
         CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
              WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
              WHEN sims[3] >= sims[4] THEN 2
              ELSE 3 END AS cell
  FROM s0),
c1m AS (
  SELECT cell, list(mv ORDER BY i) AS m
  FROM (SELECT cell, t.i AS i, avg(CAST(embedding[t.i] AS DOUBLE)) AS mv
        FROM a0 CROSS JOIN range(1, 65) t(i)
        GROUP BY cell, t.i)
  GROUP BY cell),
c1 AS (
  SELECT list(COALESCE(c1m.m,
              list_transform(c0.cents[g.cell + 1], x -> CAST(x AS DOUBLE)))
              ORDER BY g.cell) AS cents
  FROM range(4) g(cell) LEFT JOIN c1m ON c1m.cell = g.cell CROSS JOIN c0),
s1 AS (
  SELECT e.vec_id, e.embedding,
         sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x))) AS nrm,
         list_transform(c1.cents, ce ->
           list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * ce[i]))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
            * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE)*x))))) AS sims
  FROM embeddings e CROSS JOIN c1),
a1 AS (
  SELECT vec_id, embedding, nrm,
         CASE WHEN sims[1] >= sims[2] AND sims[1] >= sims[3] AND sims[1] >= sims[4] THEN 0
              WHEN sims[2] >= sims[3] AND sims[2] >= sims[4] THEN 1
              WHEN sims[3] >= sims[4] THEN 2
              ELSE 3 END AS cell
  FROM s1),
pairs AS (
  SELECT a.vec_id AS pa, b.vec_id AS pb
  FROM a1 a JOIN a1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65),
            i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
          / (a.nrm * b.nrm) >= 0.4),
edges AS (SELECT pa AS src, pb AS dst FROM pairs
          UNION SELECT pb, pa FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (
  SELECT src AS node, least(src, min(dst)) AS component
  FROM reach GROUP BY src)
SELECT a1.vec_id, a1.cell,
       COALESCE(l.component, a1.vec_id) AS dup_group,
       COALESCE(l.component, a1.vec_id) = a1.vec_id AS is_canonical
FROM a1 LEFT JOIN labels l ON a1.vec_id = l.node
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 word bigrams (operators/text.py top_ngrams):
    the frequency table a tokenizer-training or corpus-drift pass
    starts from. One map-side-combined (ngram) aggregate + a
    TakeOrderedAndProject top-k; the count-tie boundary is pinned by
    the lexicographic tiebreak."""
    docs = _docs(spark, sf_dir)
    return text.top_ngrams(docs, "text", n=2, k=50)


SQL_TOP_NGRAMS = r"""
WITH docs AS (
  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
grams AS (
  SELECT unnest(CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      ELSE [array_to_string(w, ' ')] END) AS ngram
  FROM docs)
SELECT ngram, CAST(count(*) AS BIGINT) AS count
FROM grams GROUP BY ngram
ORDER BY count DESC, ngram ASC LIMIT 50
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (operators/sampling.py weighted_sample): 25 documents with
    inclusion odds proportional to n_chars, Efraimidis-Spirakis keys
    from an md5-derived uniform — reproducible and SQL-replayable."""
    from duo_spark.operators.sampling import weighted_sample

    docs = _docs(spark, sf_dir)
    out = weighted_sample(docs, k=25, weight_col="n_chars", id_col="doc_id")
    return out.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("weight"),
        F.round("_key", 6).alias("sample_key"),
    )


SQL_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, n_chars,
         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':0'), 1, 15))
                   AS BIGINT) + 1.0) / 1152921504606846977.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents WHERE n_chars > 0)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, round(k, 6) AS sample_key
FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 25
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/search.py
    tfidf_top_terms) — keyword extraction over the corpus. Ranking is
    by the 6-decimal-rounded score (bm25's cross-engine policy) with a
    term tiebreak, so the cut is deterministic in both engines."""
    from duo_spark.operators.search import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    return tfidf_top_terms(docs, "doc_id", "text", top=3)


SQL_TFIDF_TOP_TERMS = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf
  FROM toks GROUP BY doc_id, t),
dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT doc_id, t, round(tf * ln(n / dft), 6) AS score
  FROM tf JOIN dft USING (t) CROSS JOIN n),
ranked AS (
  SELECT doc_id, t AS term, score,
         CAST(row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, t ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, term, score, rank FROM ranked WHERE rank <= 3
"""


def q_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus mixture report (operators/text.py
    corpus_mixture): doc share, exact-dup rate, token mass, median doc
    length — the rollup that drives sampling-weight decisions. Exact
    `percentile` ↔ DuckDB `quantile_cont` (type-7 interpolation) keeps
    the gate bit-comparable; percentile_approx is the documented
    100 TB swap."""
    docs = _docs(spark, sf_dir)
    return text.corpus_mixture(docs, "source")


SQL_CORPUS_MIXTURE = r"""
WITH base AS (
  SELECT source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok,
         n_chars
  FROM documents),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT h) AS BIGINT) AS n_unique,
         CAST(sum(tok) AS BIGINT) AS total_tokens,
         quantile_cont(n_chars, 0.5) AS p50_chars
  FROM base GROUP BY source),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents)
SELECT source, n_docs, n_unique,
       round(1.0 - n_unique / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
       round(n_docs / t, 6) AS doc_share,
       total_tokens,
       round(p50_chars, 4) AS p50_chars
FROM per CROSS JOIN tot
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (operators/multimodal.py sample_frames):
    each document's utf-8 payload split into 64-byte frames (capped at
    6) with exact per-frame checksums. The corpus is pure ASCII, so
    DuckDB replays byte slicing as code-point slicing — the compare is
    integer-exact."""
    from duo_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video-blob").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    return sample_frames(media, frame_bytes=64, max_frames=6)


SQL_MULTIMODAL_FRAMES = """
WITH chars AS (
  SELECT doc_id, length(text) AS n,
         list_transform(range(1, length(text) + 1),
                        i -> unicode(substr(text, i, 1))) AS cs
  FROM documents),
frames AS (
  SELECT doc_id, CAST(f.i AS INT) AS frame_idx,
         cs[f.i * 64 + 1 : least(f.i * 64 + 64, n)] AS fr
  FROM chars
  CROSS JOIN (SELECT unnest(range(0, 6)) AS i) f
  WHERE f.i * 64 < n OR (f.i = 0 AND n > 0))
SELECT doc_id AS media_id, frame_idx,
       CAST(len(fr) AS BIGINT) AS frame_bytes,
       CAST(list_sum(fr) AS BIGINT) AS checksum
FROM frames
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (operators/text.py chunk_documents):
    32-token windows every 24 tokens (8-token overlap) — the
    context-packing primitive. Pure Column algebra; the oracle replays
    the start/span arithmetic with 1-based list slices."""
    docs = _t(spark, sf_dir, "documents")
    return text.chunk_documents(docs, "doc_id", "text", chunk_tokens=32, overlap=8)


SQL_CHUNK_DOCUMENTS = r"""
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
c AS (
  SELECT doc_id, w,
         greatest(CAST(ceil(len(w) / 24.0) AS INT), 1) AS nc
  FROM docs),
e AS (
  SELECT doc_id, w, CAST(f.i AS INT) AS chunk_idx
  FROM c CROSS JOIN (SELECT unnest(range(0, 32)) AS i) f
  WHERE f.i < nc AND (f.i * 24 < len(w) OR f.i = 0))
SELECT doc_id, chunk_idx,
       CAST(len(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS INT) AS n_tokens,
       array_to_string(w[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ') AS chunk_text
FROM e
"""


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 72 h per-user event features (operators/features.py
    rolling_window_features): leakage-free rolling count/sum/mean at
    every event time. value is scaled to exact integer cents BEFORE
    the window sum, so both engines aggregate integers and the compare
    has no float-association hazard."""
    from duo_spark.operators.features import rolling_window_features

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        _ts_us().alias("t_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = rolling_window_features(
        ev, "user_id", "t_us", "cents", window_us=72 * 3_600_000_000
    )
    return out.select(
        "user_id",
        "t_us",
        "n_win",
        F.col("sum_win").cast("long").alias("sum_cents"),
        F.round("avg_win", 6).alias("avg_cents"),
    )


SQL_ROLLING_FEATURES = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t_us,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events)
SELECT user_id, t_us,
       CAST(count(*) OVER w AS BIGINT) AS n_win,
       CAST(sum(cents) OVER w AS BIGINT) AS sum_cents,
       round(avg(CAST(cents AS DOUBLE)) OVER w, 6) AS avg_cents
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY t_us
             RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW)
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style per-rule quality flags (operators/text.py
    gopher_rules): auditable boolean reasons plus the keep
    conjunction. All thresholds compare IEEE-deterministic ratios, so
    the boolean gate is engine-exact."""
    docs = _docs(spark, sf_dir)
    return text.gopher_rules(docs)


SQL_GOPHER_RULES = r"""
WITH toks AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(trim(text), '\s+') AS tok,
         length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g')) AS n_punct
  FROM documents),
feats AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         CAST(len(list_filter(tok, t -> list_contains(
             ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
           / greatest(len(tok), 1) AS stopword_ratio,
         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
         CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE)
           / greatest(len(tok), 1) AS mean_token_len,
         CASE WHEN len(tok) >= 3
              THEN list_transform(range(1, len(tok)-1),
                   i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2])
              ELSE [array_to_string(tok, ' ')] END AS grams
  FROM toks),
rep AS (
  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS repetition_ratio
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS g FROM feats)
        GROUP BY doc_id, g)
  GROUP BY doc_id),
flags AS (
  SELECT f.doc_id,
         f.n_tokens < 50 AS too_short,
         f.n_tokens > 100000 AS too_long,
         f.mean_token_len < 3.0 OR f.mean_token_len > 10.0 AS bad_token_len,
         f.stopword_ratio < 0.06 AS low_stopword,
         f.punct_ratio > 0.25 AS high_punct,
         r.repetition_ratio > 0.2 AS too_repetitive
  FROM feats f JOIN rep r USING (doc_id))
SELECT doc_id, too_short, too_long, bad_token_len, low_stopword,
       high_punct, too_repetitive,
       NOT (too_short OR too_long OR bad_token_len OR low_stopword
            OR high_punct OR too_repetitive) AS keep
FROM flags
"""


def q_streaming_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hopping-window features (streaming/features.py)
    through the REAL Structured Streaming path: events staged as two
    file-drops (odd/even event ids, so most (user, window) states
    span both micro-batches), drained availableNow in complete mode.
    The oracle replays Spark's epoch-aligned hopping windows with
    integer bucket arithmetic; values are pre-scaled to exact cents."""
    import uuid as _uuid

    from duo_spark.streaming.features import streaming_hopping_features
    from duo_spark.streaming.pipeline import _scratch

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    run = _scratch("sfeat", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, cents long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    feats = streaming_hopping_features(
        stream, "user_id", "ts", "cents", window="72 hours", slide="24 hours"
    )
    name = f"sfeat_{_uuid.uuid4().hex[:8]}"
    q = (
        feats.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").select(
        "user_id",
        F.unix_micros("w_start").alias("w_start_us"),
        F.unix_micros("w_end").alias("w_end_us"),
        "n_win",
        F.col("sum_win").cast("long").alias("sum_cents"),
    )


SQL_STREAMING_FEATURES = """
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS t,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events),
b AS (
  SELECT user_id,
         (t // 86400000000 - k.i) * 86400000000 AS w_start_us,
         cents
  FROM ev CROSS JOIN (SELECT unnest(range(0, 3)) AS i) k)
SELECT user_id, w_start_us, w_start_us + 259200000000 AS w_end_us,
       CAST(count(*) AS BIGINT) AS n_win,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM b GROUP BY user_id, w_start_us
"""


def q_events_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the integer ``k`` out of the
    events table's JSON ``props`` column (get_json_object — the same
    engine surface that serves duo's dynamic log fields and span tags)
    and roll it up per event type. The JSON parse is scan-side and
    codegen'd; at 100 TB prefer from_json with an explicit schema once
    the shape is known (identical plan placement)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("_k").alias("n_with_k"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
    )


SQL_EVENTS_PROPS_ROLLUP = """
WITH ev AS (
  SELECT event_type, CAST(json_extract_string(props, 'k') AS BIGINT) AS k
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM ev GROUP BY event_type
"""


def q_service_deps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service dependency graph (operators/traces.py
    service_dependencies): per (parent_service, child_service) edge,
    call count and latency rollups over the span parent links. One
    column-pruned equi-join on span id + a tiny-key hash aggregate."""
    from duo_spark.operators.traces import service_dependencies

    return service_dependencies(spans_view(spark, sf_dir)).select(
        "parent_service",
        "child_service",
        "calls",
        "sum_duration_us",
        "max_duration_us",
    )


SQL_SERVICE_DEPS = f"""
WITH {SPANS_CTE}
SELECT p.process_id AS parent_service, c.process_id AS child_service,
       CAST(count(*) AS BIGINT) AS calls,
       CAST(sum(c."end" - c."start") AS BIGINT) AS sum_duration_us,
       CAST(max(c."end" - c."start") AS BIGINT) AS max_duration_us
FROM spans c JOIN spans p ON c.parent_id = p.id
GROUP BY 1, 2
"""


def q_trace_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-side Jaeger waterfall (operators/traces.py
    trace_waterfall): every span with its BFS tree depth and 1-based
    per-trace display position — depth via bounded level joins, pos
    via a trace-partitioned window (never a global sort). The oracle
    replays the depth with a recursive CTE."""
    from duo_spark.operators.traces import trace_waterfall

    return trace_waterfall(spans_view(spark, sf_dir))


SQL_TRACE_WATERFALL = f"""
WITH RECURSIVE {SPANS_CTE},
d0 AS (
  SELECT id, 0 AS depth FROM spans WHERE parent_id IS NULL
  UNION ALL
  SELECT s.id, d0.depth + 1 FROM spans s JOIN d0 ON s.parent_id = d0.id),
d AS (SELECT DISTINCT id, depth FROM d0)
SELECT s.trace_id,
       CAST(row_number() OVER (
            PARTITION BY s.trace_id
            ORDER BY s."start", s.id, s."end") AS INT) AS pos,
       s.id, s.parent_id, s.name, s.process_id, s."start",
       s."end" - s."start" AS duration_us,
       CAST(d.depth AS INT) AS depth
FROM spans s JOIN d USING (id)
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup report (operators/dedup.py
    substring_dedup_stats — the Lee et al. exact-substring family):
    per document, the merged maximal 8-token spans that appear
    verbatim in other documents. Gate variant hashes windows with the
    cross-engine md5-long; production default is xxhash64 (pinned
    equal in tests/test_dedup.py)."""
    from duo_spark.operators.dedup import md5_word_hash, substring_dedup_stats

    return substring_dedup_stats(
        _docs(spark, sf_dir), "doc_id", "text", window=8, window_hash=md5_word_hash
    )


SQL_SUBSTRING_DEDUP = r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents),
wins AS (
  SELECT doc_id, unnest(range(0, greatest(len(t) - 7, 0))) AS pos, t FROM toks),
w2 AS (
  SELECT doc_id, pos,
         ('0x' || substr(md5(array_to_string(t[pos+1:pos+8], ' ')), 1, 15))::BIGINT AS h
  FROM wins),
dup AS (SELECT h FROM w2 GROUP BY h HAVING count(DISTINCT doc_id) > 1),
d AS (SELECT doc_id, pos FROM w2 WHERE h IN (SELECT h FROM dup)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
              THEN 1 ELSE 0 END AS brk
  FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
isl2 AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
  FROM isl2 GROUP BY doc_id, island),
per AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
         CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
  FROM spans GROUP BY doc_id)
SELECT p.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens, p.dup_spans, p.dup_tokens,
       round(p.dup_tokens / CAST(len(t.t) AS DOUBLE), 6) AS dup_ratio
FROM per p JOIN toks t USING (doc_id)
"""


def q_span_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed interval self-join (operators/intervals.py): pairs of
    spans in the same trace whose [start, end] intervals overlap, with
    the exact overlap length — 'which spans actually ran concurrently'.
    The oracle is the naive inequality join; the Spark plan is the
    bucketed equi-join with exactly-once pair emission."""
    from duo_spark.operators.intervals import overlap_pairs

    spans = spans_view(spark, sf_dir)
    out = overlap_pairs(spans, key="trace_id", id_col="id", bucket_width=3_600_000_000)
    return out.select(
        "trace_id",
        F.col("id").alias("id_a"),
        F.col("id_r").alias("id_b"),
        "overlap_us",
    )


SQL_SPAN_OVERLAP = f"""
WITH {SPANS_CTE}
SELECT a.trace_id, a.id AS id_a, b.id AS id_b,
       least(a."end", b."end") - greatest(a."start", b."start") AS overlap_us
FROM spans a JOIN spans b
  ON a.trace_id = b.trace_id AND a.id < b.id
 AND a."start" <= b."end" AND b."start" <= a."end"
"""


def q_service_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per service (operators/intervals.py
    max_concurrency): the in-flight span count a service's executor
    pool actually saw — computed without ever materializing the
    (quadratic) overlapping-pair set."""
    from duo_spark.operators.intervals import max_concurrency

    spans = spans_view(spark, sf_dir)
    # count_col rides the sweep's own final aggregate (each span is
    # exactly one +1 event), replacing the former second full scan of
    # the spans view + join — one pass instead of two (round 14; the
    # two forms are row-identical because every span yields events, so
    # every counted key is a swept key and vice versa)
    out = max_concurrency(spans, key="process_id", count_col="n_spans")
    return out.select("process_id", "n_spans", "peak")


SQL_SERVICE_CONCURRENCY = f"""
WITH {SPANS_CTE},
ev AS (
  SELECT process_id, "start" AS t, 1 AS d FROM spans
  UNION ALL
  SELECT process_id, "end" + 1, -1 FROM spans),
r AS (
  SELECT process_id,
         sum(d) OVER (PARTITION BY process_id ORDER BY t, d DESC
                      ROWS UNBOUNDED PRECEDING) AS run
  FROM ev)
SELECT s.process_id, CAST(s.n_spans AS BIGINT) AS n_spans,
       CAST(p.peak AS BIGINT) AS peak
FROM (SELECT process_id, count(*) AS n_spans FROM spans GROUP BY 1) s
JOIN (SELECT process_id, max(run) AS peak FROM r GROUP BY 1) p USING (process_id)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-fit sequence packing (operators/sharding.py) of documents
    into 256-token training sequences across 8 hash shards. The
    sequential bin-close dependency runs inside one applyInPandas task
    per shard; the oracle replays it with a recursive CTE."""
    from duo_spark.operators.sharding import pack_sequences

    # _t, not _docs: the shard hash exchange already spreads the rows,
    # so _docs' round-robin repartition would be a second, wasted
    # shuffle (pinned to one exchange in tests/test_plans.py)
    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", n_ws.cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, capacity=256, num_shards=8)


SQL_PACK_SEQUENCES = r"""
WITH RECURSIVE d AS (
  SELECT doc_id, doc_id % 8 AS shard,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS tok
  FROM documents),
o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM d),
p AS (
  SELECT shard, rn, doc_id, tok,
         CAST(0 AS BIGINT) AS seq, tok AS fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.tok,
         CASE WHEN p.fill + o.tok <= 256 THEN p.seq ELSE p.seq + 1 END,
         CASE WHEN p.fill + o.tok <= 256 THEN p.fill + o.tok ELSE o.tok END
  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1)
SELECT doc_id, shard, seq, fill AS seq_fill FROM p
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (operators/frequent.py): word bigrams
    occurring more than 1/1000th of the corpus, via per-partition
    Misra-Gries candidates + a candidate-only exact count — never a
    full distinct-sized shuffle."""
    from duo_spark.operators.frequent import heavy_hitters

    # tokenize ONCE: heavy_hitters consumes the gram stream twice (the
    # MG candidate pass and the exact verify count), and without a
    # checkpoint each pass re-runs the regex split + per-gram concat
    # from the parquet scan. Materializing the per-doc token arrays
    # makes the regex a single corpus pass (the bigram_lm_score /
    # collocation_lift convention); both downstream explodes are cheap
    # array codegen over the checkpointed rows.
    toks_arr = checkpoint(_docs(spark, sf_dir).select(
        F.split(F.trim(F.col("text")), r"\s+").alias("_ts")
    ))
    toks = F.col("_ts")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks_arr.select(F.explode(bigrams).alias("bigram"))
    return heavy_hitters(grams, "bigram", k=1000)


SQL_HEAVY_HITTERS = r"""
WITH d AS (
  SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
         AS bigram
  FROM d)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
FROM g GROUP BY bigram
HAVING count(*) * 1000 > (SELECT count(*) FROM g)
"""


def q_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key deterministic fixed-size sample (operators/sampling.py
    sample_per_key): exactly 5 documents per language, ranked by the
    oracle-replayable multiplicative hash — the reproducible stand-in
    for per-key reservoir sampling."""
    from duo_spark.operators.sampling import sample_per_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = sample_per_key(docs, key="lang", n=5, id_col="doc_id")
    return out.select("lang", "doc_id", F.col("sample_rank").cast("long").alias("sample_rank"))


SQL_SAMPLE_PER_KEY = """
WITH h AS (
  SELECT lang, doc_id,
         ((doc_id % 1000003) * 2654435761) % 1000000007 AS hb
  FROM documents),
r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id)
         AS sample_rank
  FROM h)
SELECT lang, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
FROM r WHERE sample_rank <= 5
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (operators/dedup.py
    minhash_index + incremental_near_duplicates): the corpus (doc_id %
    4 != 0) is banded ONCE into a persistable LSH index; the new batch
    (doc_id % 4 == 0) probes it and self-checks, never re-shingling
    old documents. The oracle is the exhaustive exact-Jaccard pair set
    restricted to pairs touching the batch — banding recall at these
    similarities is ~1 (see q_minhash_lsh)."""
    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    bands_df, sets_df = dedup.minhash_index(corpus, "doc_id", "text")
    # the operator's contract is a PREBUILT (parquet-resident) index;
    # materialize it so the in-query build isn't re-run per plan
    # branch. The two checkpoints are independent reads of the index
    # build's shared shingle table — run them concurrently
    sets_df, bands_df = together(
        lambda: checkpoint(sets_df), lambda: checkpoint(bands_df)
    )
    pairs = dedup.incremental_near_duplicates(
        bands_df, sets_df, batch, "doc_id", "text", threshold=0.5
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


SQL_INCREMENTAL_DEDUP = """
WITH docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM docs),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
           / len(list_distinct(a.s || b.s)) AS j
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs
WHERE j >= 0.5 AND (id_a % 4 = 0 OR id_b % 4 = 0)
"""


def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (streaming/joins.py) through the
    REAL Structured Streaming path: root spans (orders) and span logs
    (lineitem) each staged as two file-drops so matches must pair
    across micro-batches, joined on trace_id with the log time bounded
    to [span start, +120 days], drained availableNow. The oracle is
    the identical batch inner join; stream-stream state buffering must
    not lose or duplicate a single pair on any micro-batch schedule."""
    import uuid as _uuid

    from duo_spark.streaming.joins import streaming_span_log_join
    from duo_spark.streaming.pipeline import _scratch

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0).select(
        F.col("o_orderkey").alias("trace_id"),
        (F.col("o_orderkey") * 10).alias("id"),
        F.col("o_orderdate").cast("timestamp").alias("start_ts"),
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 20 == 0).select(
        F.col("l_orderkey").alias("trace_id"),
        F.col("l_linenumber").alias("line"),
        F.col("l_shipdate").cast("timestamp").alias("time_ts"),
        F.when(F.col("l_returnflag") == "R", "ERROR").otherwise("INFO").alias("level"),
    )
    run = _scratch("sjoin", _uuid.uuid4().hex)
    half = F.expr("(trace_id div 20) % 2")
    for df, sub in ((o, "spans"), (li, "logs")):
        df.filter(half == 1).coalesce(1).write.parquet(f"{run}/{sub}")
        df.filter(half == 0).coalesce(1).write.mode("append").parquet(f"{run}/{sub}")
    spans = (
        spark.readStream.schema("trace_id long, id long, start_ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{run}/spans")
    )
    logs = (
        spark.readStream.schema("trace_id long, line long, time_ts timestamp, level string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{run}/logs")
    )
    joined = streaming_span_log_join(spans, logs, window="120 days")
    name = f"sjoin_{_uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}").select(
        "trace_id",
        "id",
        F.unix_micros("start_ts").alias("start_us"),
        "line",
        F.unix_micros("time_ts").alias("log_time_us"),
        "level",
    )


SQL_STREAMING_JOIN = """
SELECT o_orderkey AS trace_id, o_orderkey * 10 AS id,
       epoch_us(o_orderdate) AS start_us,
       l_linenumber AS line,
       epoch_us(l_shipdate) AS log_time_us,
       CASE WHEN l_returnflag = 'R' THEN 'ERROR' ELSE 'INFO' END AS level
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey % 20 = 0
  AND l_shipdate >= o_orderdate
  AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
"""


def q_streaming_incr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous corpus near-dup detection (streaming/dedup.py
    streaming_incremental_near_dup) through the real streaming path:
    documents staged as two file-drops (odd then even ids), each
    micro-batch probed against the parquet LSH index built by its
    predecessors and then appended to it. The accumulated pair set
    must equal the one-shot batch answer on any schedule, so the
    oracle is the same exhaustive exact-Jaccard pair set that gates
    minhash_lsh."""
    import uuid as _uuid

    from duo_spark.streaming.dedup import streaming_incremental_near_dup
    from duo_spark.streaming.pipeline import _scratch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    run = _scratch("sincdedup", _uuid.uuid4().hex)
    src = f"{run}/in"
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(src)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_incremental_near_dup(
        stream, "doc_id", "text",
        index_dir=f"{run}/index", pairs_dir=f"{run}/pairs",
        checkpoint_dir=f"{run}/ckpt", threshold=0.5,
    )
    q.awaitTermination()
    return spark.read.parquet(f"{run}/pairs").select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


SQL_STREAMING_INCR_DEDUP = SQL_MINHASH_LSH


def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-asset duplicate-frame detection (operators/multimodal.py
    duplicate_frames): byte-identical 64-byte frames shared across
    media items, per-item exact counts. The corpus is pure ASCII, so
    DuckDB replays the frame bytes as text substrings and md5 agrees
    across engines."""
    from duo_spark.operators.multimodal import duplicate_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return duplicate_frames(media, frame_bytes=64, max_frames=6)


SQL_MULTIMODAL_FRAME_DEDUP = """
WITH frames AS (
  SELECT doc_id AS media_id, f.i AS idx, substr(text, f.i*64 + 1, 64) AS fr
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, 6)) AS i) f
  WHERE f.i*64 < length(text) OR (f.i = 0 AND length(text) > 0)),
dup AS (
  SELECT fr FROM frames GROUP BY fr
  HAVING min(media_id) != max(media_id)),
flagged AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_dup_frames
  FROM frames WHERE fr IN (SELECT fr FROM dup) GROUP BY media_id),
per AS (
  SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames FROM frames GROUP BY media_id)
SELECT p.media_id, p.n_frames,
       COALESCE(f.n_dup_frames, 0) AS n_dup_frames,
       round(COALESCE(f.n_dup_frames, 0) / CAST(p.n_frames AS DOUBLE), 6) AS dup_ratio
FROM per p LEFT JOIN flagged f USING (media_id)
"""


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (§2.4 breadth): event counts and value sums
    at (event_type, day), (event_type), and grand-total levels in one
    pass — Spark's rollup() is a single shuffle producing all three
    grouping sets (partial-aggregated), vs three separate scans.
    NULL grouping columns are coalesced to sentinels so the hash
    compare is unambiguous."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type", F.to_date("ts").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("day", F.lit("<all>")).alias("day"),
            "n",
            "sum_value",
        )
    )


SQL_EVENTS_ROLLUP = """
SELECT COALESCE(event_type, '<all>') AS event_type,
       COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), '<all>') AS day,
       CAST(count(*) AS BIGINT) AS n,
       round(sum("value"), 4) AS sum_value
FROM events
GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))
"""


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (§2.4): per-user event counts pivoted by event type —
    Spark's pivot() with an explicit value list stays one shuffle with
    map-side partial aggregation (an unlisted-values pivot would need
    a driver round-trip to discover columns). The oracle replays it as
    conditional aggregation, which is also the plan Spark generates."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds],
        )
    )


SQL_EVENTS_PIVOT = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS n_view,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS n_error
FROM events GROUP BY user_id
"""


def q_customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (§2.7): customers who ordered in 1996 but
    not 1997, and in both years — set semantics (DISTINCT rows), which
    Spark plans as aggregates/anti-joins, never a cartesian. One row
    per customer with its set membership."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.year("o_orderdate").alias("y")
    )
    y96 = o.filter(F.col("y") == 1996).select("o_custkey").distinct()
    y97 = o.filter(F.col("y") == 1997).select("o_custkey").distinct()
    only96 = y96.exceptAll(y97).select(
        "o_custkey", F.lit("1996_only").alias("membership")
    )
    both = y96.intersect(y97).select(
        "o_custkey", F.lit("both").alias("membership")
    )
    return only96.unionByName(both)


SQL_CUSTOMER_SET_OPS = """
WITH y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT o_custkey, '1996_only' AS membership FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
UNION ALL
SELECT o_custkey, 'both' FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
"""


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized ANN with exact rescore (operators/similarity.py
    quantize_embeddings + cosine_topk_quantized): the coarse pass
    streams 4×-smaller codes (scales cancel in cosine), the refine
    pass re-scores k·refine candidates with the float vectors. The
    oracle replays the quantization arithmetic AND the coarse pruning
    exactly — the same replicate-the-pruning pattern as ivf_search."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    qt = similarity.quantize_embeddings(emb.filter(F.col("vec_id") != 0))
    topk = similarity.cosine_topk_quantized(qt, list(qvec), k=10, refine=4)
    return topk.select("vec_id", F.round("cosine", 6).alias("cosine"))


SQL_ANN_QUANTIZED = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
qmax AS (SELECT greatest(list_max(list_transform(qe, x -> abs(CAST(x AS DOUBLE)))), 0.0) AS m FROM q),
qq AS (
  SELECT list_transform(q.qe, x -> round(CAST(x AS DOUBLE) / (CASE WHEN qmax.m > 0 THEN qmax.m/127.0 ELSE 1.0 END)))
         AS qv
  FROM q, qmax),
t AS (
  SELECT vec_id, embedding,
         CASE WHEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) > 0
              THEN list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))/127.0
              ELSE 1.0 END AS s
  FROM embeddings WHERE vec_id <> 0),
codes AS (
  SELECT vec_id, embedding,
         list_transform(embedding, x -> round(CAST(x AS DOUBLE)/s)) AS c
  FROM t),
coarse AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(range(1, 65), i -> c[i] * qq.qv[i]))
         / (sqrt(list_sum(list_transform(c, x -> x*x)))
          * sqrt(list_sum(list_transform(qq.qv, x -> x*x)))) AS cc
  FROM codes, qq
  ORDER BY cc DESC, vec_id ASC LIMIT 40),
fine AS (
  SELECT coarse.vec_id,
         list_sum(list_transform(range(1, 65),
             i -> CAST(coarse.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(coarse.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cos
  FROM coarse, q)
SELECT vec_id, round(cos, 6) AS cosine
FROM fine ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (streaming/joins.py
    streaming_enrich_static): a span stream joined per-micro-batch to
    the static customer dimension — the stream never shuffles, the
    dimension broadcasts. Two file-drops exercise re-broadcast across
    triggers; oracle = the equivalent batch left join."""
    import uuid as _uuid

    from duo_spark.streaming.joins import streaming_enrich_static
    from duo_spark.streaming.pipeline import _scratch

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0).select(
        F.col("o_orderkey").alias("trace_id"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderpriority").alias("name"),
    )
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    run = _scratch("senrich", _uuid.uuid4().hex)
    src = f"{run}/in"
    half = F.expr("(trace_id div 50) % 2")
    o.filter(half == 1).coalesce(1).write.parquet(src)
    o.filter(half == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("trace_id long, custkey long, name string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = streaming_enrich_static(stream, dim, on="custkey", how="left")
    name = f"senrich_{_uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(
        f"SELECT trace_id, custkey, name, segment, nationkey FROM {name}"
    )


SQL_STREAMING_ENRICH = """
SELECT o_orderkey AS trace_id, o_custkey AS custkey,
       o_orderpriority AS name, c_mktsegment AS segment,
       c_nationkey AS nationkey
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey % 50 = 0
"""


def q_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE window breadth (§2.5): orders bucketed into value
    quartiles within their priority class, rolled up to exact
    per-bucket stats. The ntile order is made total (price, orderkey)
    so bucket membership is engine-independent; money stays integer
    cents through the aggregate.

    Scale note: exact NTILE through a per-class window bounds
    parallelism by class count (5 here) — fine for low-volume classes;
    for few huge keys use operators/sharding.py ntile_by_key (chunked
    two-level ranks + the closed-form fat-bucket rule, pinned equal to
    F.ntile in tests)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    w = Window.partitionBy("o_orderpriority").orderBy(
        cents.asc(), F.col("o_orderkey").asc()
    )
    q = o.select(
        "o_orderpriority",
        cents.alias("cents"),
        F.ntile(4).over(w).alias("quartile"),
    )
    return q.groupBy("o_orderpriority", "quartile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
        F.sum("cents").alias("sum_cents"),
    )


SQL_ORDER_QUARTILES = """
WITH q AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY CAST(round(o_totalprice * 100) AS BIGINT), o_orderkey)
         AS quartile
  FROM orders)
SELECT o_orderpriority, CAST(quartile AS INT) AS quartile,
       CAST(count(*) AS BIGINT) AS n,
       min(cents) AS min_cents, max(cents) AS max_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM q GROUP BY 1, 2
"""


def q_service_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the service dependency graph
    (operators/graph.py pagerank ∘ operators/traces.py
    service_dependencies): services ranked by call-traffic flow, 5
    iterations at damping 0.85, dangling mass redistributed. The
    oracle replays the identical iteration as chained CTEs."""
    from duo_spark.operators.graph import pagerank
    from duo_spark.operators.traces import service_dependencies

    deps = service_dependencies(spans_view(spark, sf_dir))
    # default checkpoint_every=1: an A/B at sf0.1 measured the chained
    # form (checkpoint_every=5) SLOWER (3.6 s vs 2.5 s) — analyzing the
    # 5-deep join plan costs more than the four saved checkpoint jobs
    pr = pagerank(
        deps, src="parent_service", dst="child_service", weight="calls",
        damping=0.85, iterations=5,
    )
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_sql(iterations: int = 5, d: float = 0.85) -> str:
    steps = []
    prev = "p0"
    for i in range(1, iterations + 1):
        steps.append(f"""
dg{i} AS (SELECT COALESCE(sum(r), 0) AS m FROM {prev}
          WHERE node NOT IN (SELECT _s FROM trans)),
c{i} AS (SELECT t._d AS node, sum(p.r * t._p) AS c
         FROM {prev} p JOIN trans t ON p.node = t._s GROUP BY 1),
p{i} AS (SELECT n.node,
                (1 - {d})/nn.n + {d} * (COALESCE(c.c, 0) + dg{i}.m/nn.n) AS r
         FROM nodes n CROSS JOIN nn
         LEFT JOIN c{i} c ON c.node = n.node CROSS JOIN dg{i})""")
        prev = f"p{i}"
    return f"""
WITH {{spans_cte}},
deps AS (
  SELECT p.process_id AS _s, c.process_id AS _d,
         CAST(count(*) AS DOUBLE) AS w
  FROM spans c JOIN spans p ON c.parent_id = p.id
  GROUP BY 1, 2),
trans AS (
  SELECT _s, _d, w / sum(w) OVER (PARTITION BY _s) AS _p FROM deps),
nodes AS (SELECT DISTINCT node FROM (
  SELECT _s AS node FROM deps UNION ALL SELECT _d FROM deps)),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
p0 AS (SELECT node, 1.0/nn.n AS r FROM nodes CROSS JOIN nn),{",".join(steps)}
SELECT node, round(r, 6) AS rank FROM {prev}
"""


SQL_SERVICE_PAGERANK = _pagerank_sql().format(spans_cte=SPANS_CTE.strip())


def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max aggregation (§2.4): each user's latest event — the
    materialized 'current state' view of a change stream, computed
    with max_by in ONE hash aggregate (no per-key window sort, no
    self-join on max ts). Ties on ts broken by event_id via the
    (ts, event_id) struct ordering, so the row choice is total."""
    ev = _t(spark, sf_dir, "events")
    key = F.struct(_ts_us().alias("t"), F.col("event_id").alias("e"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", key).alias("last_type"),
        F.max_by("value", key).alias("last_value"),
        F.max(_ts_us()).alias("last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id", "last_type",
        F.round("last_value", 4).alias("last_value"),
        "last_ts", "n_events",
    )


SQL_EVENTS_LATEST = """
SELECT user_id,
       first(event_type ORDER BY epoch_us(ts) DESC, event_id DESC) AS last_type,
       round(first("value" ORDER BY epoch_us(ts) DESC, event_id DESC), 4) AS last_value,
       max(epoch_us(ts)) AS last_ts,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (operators/search.py
    rrf_fuse): the BM25 top-100 for a 4-term query fused with the
    quality-prior top-100, k=60 — the standard score-free merge of
    heterogeneous retrievers. Both candidate lists are bounded BEFORE
    ranking (rank-of-corpus is a misuse; docstring enforces it)."""
    from duo_spark.operators import search, text

    docs = _t(spark, sf_dir, "documents")
    bm = (
        search.bm25_scores(docs, ["merge", "spark", "vector", "window"])
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    qual = (
        text.quality_score(docs)
        .select("doc_id", F.col("quality_score").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(100)
    )
    fused = search.rrf_fuse(bm, qual, k=60)
    return (
        fused.select("doc_id", F.round("rrf", 6).alias("rrf"))
        .orderBy(F.desc(F.round("rrf", 6)), F.asc("doc_id"))
        .limit(20)
    )


SQL_HYBRID_RRF = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(len(ts)) AS avgdl FROM toks),
hits AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS t FROM toks),
tf AS (
  SELECT doc_id, t, CAST(count(*) AS DOUBLE) AS tf, any_value(dl) AS dl
  FROM hits WHERE t IN ('merge', 'spark', 'vector', 'window')
  GROUP BY doc_id, t),
dft AS (SELECT t, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1 + (n - dft + 0.5) / (dft + 0.5))
             * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6)
         AS score
  FROM tf JOIN dft USING (t) CROSS JOIN stats
  GROUP BY tf.doc_id),
bm AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS ra
  FROM (SELECT * FROM scored ORDER BY score DESC, doc_id ASC LIMIT 100)),
wtoks AS (
  SELECT doc_id, length(text) AS n_chars,
         string_split_regex(trim(text), '\s+') AS tok,
         length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{}-]', '', 'g'))
         AS n_punct
  FROM documents),
feats AS (
  SELECT doc_id,
         len(tok) AS n_tokens,
         CAST(len(list_filter(tok, t -> list_contains(
             ['the','a','an','or','and','of','to','in','is','it'], lower(t)))) AS DOUBLE)
           / greatest(len(tok), 1) AS stopword_ratio,
         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio,
         CAST(list_sum(list_transform(tok, t -> length(t))) AS DOUBLE)
           / greatest(len(tok), 1) AS mean_token_len
  FROM wtoks),
qs AS (
  SELECT doc_id, CAST(greatest(100
         - CASE WHEN n_tokens < 10 THEN 40 ELSE 0 END
         - CASE WHEN stopword_ratio < 0.05 THEN 20 ELSE 0 END
         - CASE WHEN punct_ratio > 0.2 THEN 20 ELSE 0 END
         - CASE WHEN mean_token_len > 12 THEN 20 ELSE 0 END, 0) AS DOUBLE) AS s
  FROM feats),
q AS (
  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rb
  FROM (SELECT * FROM qs ORDER BY s DESC, doc_id ASC LIMIT 100)),
fused AS (
  SELECT COALESCE(bm.doc_id, q.doc_id) AS doc_id,
         COALESCE(1.0/(60 + bm.ra), 0) + COALESCE(1.0/(60 + q.rb), 0) AS rrf
  FROM bm FULL JOIN q ON bm.doc_id = q.doc_id)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused
ORDER BY round(rrf, 6) DESC, doc_id ASC LIMIT 20
"""


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap fill: per event type, DAILY
    buckets over the observed range with empty days materialized as
    zero rows — the densification every charting layer needs. The
    bucket spine is sequence()+explode over the per-type min/max day
    (tiny: types × days), left-joined against the real counts; a
    missing day costs one spine row, never a scan."""
    ev = _t(spark, sf_dir, "events")
    day = F.to_date("ts")
    counts = ev.groupBy(
        F.col("event_type"), day.alias("day")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    spine = (
        ev.groupBy("event_type")
        .agg(F.min(day).alias("_lo"), F.max(day).alias("_hi"))
        .select(
            "event_type",
            F.explode(F.sequence("_lo", "_hi", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    return (
        spine.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        )
    )


SQL_EVENTS_RESAMPLE = """
WITH counts AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n, round(sum("value"), 4) AS sv
  FROM events GROUP BY 1, 2),
rng AS (
  SELECT event_type, min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi
  FROM events GROUP BY 1),
spine AS (
  SELECT event_type, CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM rng)
SELECT s.event_type, CAST(s.day AS VARCHAR) AS day,
       COALESCE(c.n, 0) AS n, COALESCE(c.sv, 0.0) AS sum_value
FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.day = c.day
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct sketch (operators/sketch.py):
    per event type, the m=256 register-table estimate of distinct
    users next to the exact count and the per-mille error. Two hash
    aggregates with map-side partials — the shuffle carries at most
    groups x 256 register rows whatever the input volume, which is
    the whole point at 100 TB (exact distinct shuffles every distinct
    value). The Lehmer double-round hash, length(bin(w)) rho, and
    integer fixed-point register sum make the estimate bit-exact in
    any engine; production code wanting just the number should use
    Spark's built-in approx_count_distinct (HLL++), this operator
    exists for persistable/mergeable register TABLES plus oracle
    replay."""
    from duo_spark.operators.sketch import approx_distinct

    ev = _t(spark, sf_dir, "events")
    est = approx_distinct(ev, ["event_type"], "user_id", m=256)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            "register_sum",
            "estimate",
            F.floor(
                F.abs(F.col("estimate") - F.col("n_exact")) * 1000.0
                / F.col("n_exact")
            ).cast("long").alias("err_pm"),
        )
    )


SQL_HLL_DISTINCT = """
WITH h1 AS (
  SELECT event_type, (user_id % 2147483647) * 48271 % 2147483647 AS a
  FROM events WHERE user_id IS NOT NULL),
h2 AS (
  SELECT event_type, xor(a, a >> 15) * 69621 % 2147483647 AS c FROM h1),
v AS (
  SELECT event_type, xor(c, c >> 13) AS h FROM h2),
b AS (
  SELECT event_type, h % 256 AS bucket,
         CASE WHEN floor(h / 256) = 0 THEN 24
              ELSE 24 - length(bin(CAST(floor(h / 256) AS BIGINT))) END AS rho
  FROM v),
reg AS (
  SELECT event_type, bucket, max(rho) AS register FROM b GROUP BY 1, 2),
s AS (
  SELECT event_type,
         sum(CAST(1 AS BIGINT) << CAST(24 - register AS INT)) AS present_sum,
         count(*) AS n_present
  FROM reg GROUP BY 1),
est AS (
  SELECT event_type,
         CAST(present_sum + (256 - n_present) * 16777216 AS BIGINT) AS register_sum
  FROM s),
fin AS (
  SELECT event_type, register_sum,
         CAST(floor(0.7213 / (1.0 + 1.079 / 256) * 65536.0 * 16777216.0
                    / register_sum) AS BIGINT) AS estimate
  FROM est),
ex AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1)
SELECT f.event_type, ex.n_exact, f.register_sum, f.estimate,
       CAST(floor(abs(f.estimate - ex.n_exact) * 1000.0 / ex.n_exact) AS BIGINT)
         AS err_pm
FROM fin f JOIN ex ON f.event_type = ex.event_type
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (operators/graph.py triangle_count) over the
    parts-bought-together graph: parts co-occurring in a low-quantity
    order are linked; the top-10 parts by triangle membership are the
    densest co-purchase neighborhoods. Degree-ordered node-iterator
    (Suri & Vassilvitskii 2011): every triangle forms exactly one
    wedge, at its lowest-degree corner, so power-law hubs cost O(deg)
    oriented edges instead of O(deg^2) wedges. Equi-joins on node ids
    only; deterministic top-10 via (triangles desc, node asc)."""
    from duo_spark.operators.graph import triangle_count

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    return (
        triangle_count(pairs)
        .orderBy(F.col("triangles").desc(), F.col("node"))
        .limit(10)
        .select(F.col("node").cast("long").alias("node"), "triangles")
    )


SQL_TRIANGLE_COUNT = """
WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem WHERE l_quantity <= 10),
e AS (
  SELECT DISTINCT a.p AS src, b.p AS dst
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e) GROUP BY 1),
o AS (
  SELECT CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND e.src < e.dst)
              THEN e.src ELSE e.dst END AS u,
         CASE WHEN (ds.d < dd.d) OR (ds.d = dd.d AND e.src < e.dst)
              THEN e.dst ELSE e.src END AS v
  FROM e JOIN deg ds ON e.src = ds.node JOIN deg dd ON e.dst = dd.node),
wed AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM o e1 JOIN o e2 ON e1.v = e2.u),
tri AS (
  SELECT a, b, c FROM wed
  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = wed.a AND o.v = wed.c)),
corners AS (SELECT unnest([a, b, c]) AS node FROM tri)
SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS triangles
FROM corners GROUP BY 1
ORDER BY triangles DESC, node LIMIT 10
"""


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection (operators/anomaly.py): each
    (event_type, day) volume scored against its trailing-7-day
    mean/stddev (current day excluded), top-20 by |z|. One hash
    aggregate reduces the stream to groups x days rows; the window
    pass runs on that tiny frame (RANGE frame on the integer day so
    gaps count as absent). z is derived from integer window sums with
    IEEE divide/sqrt only — bit-exact in the oracle, no round()
    needed."""
    from duo_spark.operators.anomaly import top_anomalies

    ev = _t(spark, sf_dir, "events").select("event_type", _ts_us().alias("t"))
    return top_anomalies(
        ev, ["event_type"], "t", window_days=7, min_history=5, k=20
    ).select("event_type", "day", "n", "hist_days", "hist_mean", "z")


SQL_ANOMALY_ZSCORE = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
win AS (
  SELECT event_type, day, n,
         sum(n)     OVER w AS s,
         sum(n * n) OVER w AS ss,
         count(*)   OVER w AS k
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)),
scored AS (
  SELECT event_type, day, n,
         k AS hist_days,
         s / k AS hist_mean,
         CASE WHEN k >= 5 AND (k * ss - s * s) / (k * (k - 1)) > 0
              THEN (n - s / k) / sqrt((k * ss - s * s) / (k * (k - 1)))
         END AS z
  FROM win)
SELECT event_type, day, n, hist_days, hist_mean, z
FROM scored WHERE z IS NOT NULL
ORDER BY abs(z) DESC, event_type, day LIMIT 20
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge induction (operators/bpe.py): the first 3 tokenizer
    merges trained on the documents corpus. The corpus reduces ONCE
    to a word-frequency table (hash aggregate — training cost is
    O(vocab), not O(corpus), at any scale); each merge is an explode
    + aggregate over that table plus a 1-row argmax collect, and the
    merge rewrite itself is literal-string replace (doubled-separator
    trick == BPE's greedy left-to-right scan, no regex, no UDF). Ties
    break (count desc, pair asc); the oracle replays all three
    iterations as nested CTEs."""
    from duo_spark.operators.bpe import bpe_train, merges_df, word_freq_table

    words = word_freq_table(_t(spark, sf_dir, "documents"), "text")
    _none, merges = bpe_train(words, k=3, return_table=False)
    return merges_df(spark, merges)


def _sql_bpe_stage(prev: str, idx: int) -> str:
    """One oracle BPE iteration: pair counts -> argmax -> merge."""
    return f"""
p{idx} AS (
  SELECT pair, sum(cnt) AS total FROM (
    SELECT cnt,
           unnest(list_transform(generate_series(1, length(a) - 1),
                                 i -> a[i] || ' ' || a[i + 1])) AS pair
    FROM (SELECT cnt, string_split(sym, ' ') AS a FROM {prev})
    WHERE length(a) >= 2)
  GROUP BY 1),
t{idx} AS (SELECT pair, CAST(total AS BIGINT) AS total FROM p{idx}
           ORDER BY total DESC, pair LIMIT 1),
s{idx} AS (
  SELECT cnt,
         trim(replace(replace(' ' || replace(sym, ' ', '  ') || ' ',
              ' ' || replace((SELECT pair FROM t{idx}), ' ', '  ') || ' ',
              ' ' || replace((SELECT pair FROM t{idx}), ' ', '') || ' '),
              '  ', ' ')) AS sym
  FROM {prev})"""


SQL_BPE_MERGES = (
    """
WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents)
  WHERE length(word) BETWEEN 2 AND 12 GROUP BY 1),
s0 AS (
  SELECT cnt, array_to_string(string_split(word, ''), ' ') AS sym FROM w0),"""
    + ",".join(_sql_bpe_stage(f"s{i - 1}", i) for i in (1, 2, 3))
    + """
SELECT * FROM (
  SELECT CAST(1 AS INT) AS iteration,
         string_split(pair, ' ')[1] AS lhs, string_split(pair, ' ')[2] AS rhs,
         replace(pair, ' ', '') AS merged, total AS pair_count FROM t1
  UNION ALL
  SELECT CAST(2 AS INT), string_split(pair, ' ')[1], string_split(pair, ' ')[2],
         replace(pair, ' ', ''), total FROM t2
  UNION ALL
  SELECT CAST(3 AS INT), string_split(pair, ' ')[1], string_split(pair, ' ')[2],
         replace(pair, ' ', ''), total FROM t3)
"""
)


def q_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by lift (operators/text.py
    collocation_lift) — PMI's ratio without the monotone log, so the
    score is exact integer counts plus one IEEE divide and the ranking
    is bit-reproducible cross-engine. Two map-side-combined hash
    aggregates plus token equi-joins on the min_count survivors; the
    corpus totals ride the count tables as broadcast 1-row aggregates
    (fully lazy, no driver actions), and the unigram exchange is
    reused across both join sides and the total."""
    from duo_spark.operators.text import collocation_lift

    docs = _docs(spark, sf_dir)
    return collocation_lift(docs, "text", min_count=3, k=30)


SQL_COLLOCATION_LIFT = r"""
WITH docs AS (
  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
uni AS (SELECT unnest(w) AS tok FROM docs),
uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
n1 AS (SELECT CAST(sum(c) AS BIGINT) AS s FROM uc),
grams AS (
  SELECT unnest(CASE WHEN len(w) >= 2
      THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      ELSE [array_to_string(w, ' ')] END) AS bigram
  FROM docs),
nb AS (SELECT CAST(count(*) AS BIGINT) AS s FROM grams),
bc AS (
  SELECT bigram, CAST(count(*) AS BIGINT) AS n_pair
  FROM grams GROUP BY 1),
b2 AS (
  SELECT * FROM bc
  WHERE len(string_split(bigram, ' ')) = 2 AND n_pair >= 3),
j AS (
  SELECT bigram, n_pair, ux.c AS n_left, uy.c AS n_right
  FROM b2
  JOIN uc ux ON ux.tok = string_split(bigram, ' ')[1]
  JOIN uc uy ON uy.tok = string_split(bigram, ' ')[2])
SELECT bigram, n_pair, n_left, n_right,
       round(CAST(n_pair * n1.s * n1.s AS DOUBLE)
             / CAST(nb.s * n_left * n_right AS DOUBLE), 6) AS lift
FROM j, n1, nb
ORDER BY lift DESC, bigram ASC LIMIT 30
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/sessions.py transition_matrix): one key
    shuffle + per-key sort feeds `lead`; the pair aggregate and its
    row-stochastic normalization are |event types|²-sized. event_id
    is the total-order tiebreak — equal timestamps would otherwise
    make the pairs engine-dependent."""
    from duo_spark.operators.sessions import transition_matrix

    ev = _t(spark, sf_dir, "events")
    return transition_matrix(
        ev, "user_id", "event_type", "ts", tiebreak_col="event_id"
    )


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT event_type AS from_event,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_event
  FROM events),
pc AS (
  SELECT from_event, to_event, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE to_event IS NOT NULL GROUP BY 1, 2)
SELECT from_event, to_event, n,
       round(CAST(n AS DOUBLE)
             / CAST(sum(n) OVER (PARTITION BY from_event) AS DOUBLE), 6) AS p
FROM pc
"""


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates for the exact top-20 users by
    event count (operators/sketch.py) — the additive-register
    complement to the HLL query: registers merge with SUM, so sketches
    subtract (sliding windows) where HLL's max-registers can't. w=256
    is deliberately small enough that collisions are visible at sf0.1;
    the one-sided guarantee (estimate ≥ exact, surfaced as
    ``overcount``) is what the oracle pins. Sketch shuffle is ≤ d·w
    rows after map-side combine; the lookup broadcasts the ≤1024-row
    register table."""
    from duo_spark.operators.sketch import cms_lookup, cms_sketch

    ev = _t(spark, sf_dir, "events")
    exact = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    top = exact.orderBy(F.desc("n_exact"), F.asc("user_id")).limit(20)
    sk = cms_sketch(ev, "user_id", w=256, d=4)
    est = cms_lookup(sk, top.select("user_id"), "user_id", w=256, d=4)
    return top.join(est, "user_id").select(
        "user_id",
        "n_exact",
        "estimate",
        (F.col("estimate") - F.col("n_exact")).alias("overcount"),
    )


SQL_CMS_TOPK = """
WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact FROM e GROUP BY 1),
top AS (SELECT * FROM ex ORDER BY n_exact DESC, user_id ASC LIMIT 20),
seeds(s) AS (VALUES (0), (907), (92821), (6700417)),
h1 AS (SELECT user_id, s,
              ((user_id + s) % 2147483647) * 48271 % 2147483647 AS a
       FROM e CROSS JOIN seeds),
h2 AS (SELECT user_id, s, xor(a, a >> 15) * 69621 % 2147483647 AS c FROM h1),
hv AS (SELECT user_id, s, xor(c, c >> 13) % 256 AS bucket FROM h2),
sk AS (SELECT s, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM hv GROUP BY 1, 2),
probe AS (SELECT DISTINCT user_id, s, bucket FROM hv
          WHERE user_id IN (SELECT user_id FROM top)),
lk AS (SELECT probe.user_id, min(coalesce(sk.cnt, 0)) AS estimate
       FROM probe LEFT JOIN sk ON sk.s = probe.s AND sk.bucket = probe.bucket
       GROUP BY 1)
SELECT top.user_id, n_exact, estimate, estimate - n_exact AS overcount
FROM top JOIN lk ON top.user_id = lk.user_id
"""


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit bloom runtime filter (operators/sketch.py bloom_build /
    bloom_might_contain): the nation-7 customer keys become an 8192-bit
    bitmap built distributively and collected as 128 longs; the orders
    scan filters with pure codegen bit math against the broadcast
    literal — no join, no shuffle touches the fact table before the
    cut. Output pins the one-sided contract: n_pass ≥ n_exact, the
    difference is the (deterministic) false-positive row count. The
    gate uses the oracle-replayable portable hash chain; production
    wants ``portable=False`` (xxhash64 double hashing, ~4.5× cheaper
    per fact row, SCALING.md probe 15)."""
    from duo_spark.operators.sketch import bloom_build, bloom_might_contain

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    dim = cust.filter(F.col("c_nationkey") == 7).select("c_custkey")
    # m sized for ~13 bits/key at sf0.1 (FPR ~0.5%); a production build
    # picks m from the dim-side count the same way Spark's
    # InjectRuntimeFilter sizes its bloom from join-side statistics
    words = bloom_build(dim, "c_custkey", m=8192, k=4)
    passed = orders.filter(
        bloom_might_contain(F.col("o_custkey"), words, m=8192, k=4)
    )
    exact = orders.join(
        dim.withColumnRenamed("c_custkey", "o_custkey"), "o_custkey", "left_semi"
    )
    return (
        dim.agg(F.count(F.lit(1)).alias("n_dim_keys"))
        .crossJoin(passed.agg(F.count(F.lit(1)).alias("n_pass")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact")))
        .select(
            "n_dim_keys",
            "n_pass",
            "n_exact",
            (F.col("n_pass") - F.col("n_exact")).alias("n_false_pos"),
        )
    )


SQL_BLOOM_SEMIJOIN = """
WITH dim AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_nationkey = 7),
seeds(s) AS (VALUES (0), (907), (92821), (6700417)),
dh1 AS (SELECT ((c_custkey + s) % 2147483647) * 48271 % 2147483647 AS a
        FROM dim CROSS JOIN seeds),
dh2 AS (SELECT xor(a, a >> 15) * 69621 % 2147483647 AS c FROM dh1),
dpos AS (SELECT DISTINCT xor(c, c >> 13) % 8192 AS pos FROM dh2),
fh1 AS (SELECT o_orderkey, s,
               ((o_custkey + s) % 2147483647) * 48271 % 2147483647 AS a
        FROM orders CROSS JOIN seeds WHERE o_custkey IS NOT NULL),
fh2 AS (SELECT o_orderkey, s, xor(a, a >> 15) * 69621 % 2147483647 AS c
        FROM fh1),
fpos AS (SELECT o_orderkey, xor(c, c >> 13) % 8192 AS pos FROM fh2),
hits AS (SELECT o_orderkey FROM fpos JOIN dpos USING (pos)
         GROUP BY o_orderkey HAVING count(*) = 4)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM dim) AS n_dim_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_pass,
       (SELECT CAST(count(*) AS BIGINT)
        FROM orders JOIN dim ON o_custkey = c_custkey) AS n_exact,
       (SELECT CAST(count(*) AS BIGINT) FROM hits)
         - (SELECT CAST(count(*) AS BIGINT)
            FROM orders JOIN dim ON o_custkey = c_custkey) AS n_false_pos
"""


def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted equi-join under a pathological 90%-hot key
    (operators/skew.py salted_join, round 10 — VERDICT r9 #8): events
    keys collapse so ~90% of rows share k=0, the classic regime where
    one reducer becomes the shuffle straggler. salted_join fans the
    hot key across 16 sub-keys (big side salts, small side replicates
    16x) and must stay ROW-IDENTICAL to the plain join — the oracle
    is the unsalted SQL join. SCALING.md probe 23 measures the
    straggler elimination at scale; this gate pins correctness."""
    from duo_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select("event_id")
    big = ev.select(
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("event_id") % 997)
        .alias("k"),
        "event_id",
    )
    # shuffle_hash hint: without it the 997-row dim broadcasts and the
    # salted SHUFFLE path (what this gate exists to pin) never runs —
    # mirrors the probe's non-broadcastable-dim regime
    small = spark.range(997).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
    ).hint("shuffle_hash")
    j = salted_join(big, small, "k", salt=16)
    return j.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").alias("sum_eid"),
    )


SQL_SALTED_JOIN_SKEW = """
WITH big AS (
  SELECT CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id % 997 END AS k,
         event_id
  FROM events),
small AS (SELECT range AS k, range % 7 AS grp FROM range(0, 997))
SELECT grp, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS sum_eid
FROM big JOIN small USING (k) GROUP BY grp
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch readability screen (operators/text.py readability,
    round 10): words/sentences/vowel-group syllables as exact integer
    counts, score = 206.835 - 1.015*(w/s) - 84.6*(syl/w). Pure
    projection — rides the scan, no shuffle."""
    docs = _docs(spark, sf_dir)
    return text.readability(docs, "doc_id", "text")


SQL_READABILITY = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl
  FROM documents)
SELECT doc_id,
       CAST(w AS INT) AS n_words,
       CAST(s AS INT) AS n_sentences,
       CAST(syl AS INT) AS n_syllables,
       CASE WHEN w > 0
            THEN round(206.835 - 1.015 * w / s - 84.6 * syl / w, 6)
            ELSE 0.0 END AS flesch
FROM t
"""


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf fit (operators/text.py zipf_slope, round 10): OLS
    of ln(freq) on ln(rank) over the top-1000 token head, rank ties
    broken on the token so the fit is a deterministic total order.
    One hash aggregate + a bounded top-k; five scalar sums."""
    docs = _docs(spark, sf_dir)
    return text.zipf_slope(docs, "text", top_k=1000)


SQL_ZIPF_SLOPE = """
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents),
tf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM toks
  WHERE w <> '' GROUP BY w),
tot AS (
  SELECT CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types FROM tf),
top AS (SELECT w, f FROM tf ORDER BY f DESC, w LIMIT 1000),
xy AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, w) AS DOUBLE)) AS x,
         ln(CAST(f AS DOUBLE)) AS y
  FROM top),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy)
SELECT tot.n_tokens, tot.n_types, s.n AS n_ranked,
       round((s.n * s.sxy - s.sx * s.sy)
             / (s.n * s.sxx - s.sx * s.sx), 6) AS zipf_slope,
       round((s.sy - (s.n * s.sxy - s.sx * s.sy)
                     / (s.n * s.sxx - s.sx * s.sx) * s.sx) / s.n, 6)
         AS zipf_intercept
FROM s CROSS JOIN tot
"""


def q_column_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column dependence audit (operators/profile.py column_mi, round
    10): mutual information + NMI between order status and priority —
    the leakage/redundancy check of pipeline QA. One |A x B|-row
    shuffle, exact integer counts, log-sum folding (no products that
    can overflow)."""
    from duo_spark.operators.profile import column_mi

    o = _t(spark, sf_dir, "orders")
    return column_mi(o, "o_orderstatus", "o_orderpriority")


SQL_COLUMN_MI = """
WITH j AS (
  SELECT o_orderstatus AS a, o_orderpriority AS b,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2),
ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM j GROUP BY a),
mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM j GROUP BY b),
n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM j),
mi AS (
  SELECT sum(c * 1.0 / n.n * (ln(c) + ln(n.n) - ln(ca) - ln(cb))) AS mi
  FROM j JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN n),
ha AS (
  SELECT -sum(ca * 1.0 / n.n * (ln(ca) - ln(n.n))) AS ha,
         CAST(count(*) AS BIGINT) AS n_a
  FROM ma CROSS JOIN n),
hb AS (
  SELECT -sum(cb * 1.0 / n.n * (ln(cb) - ln(n.n))) AS hb,
         CAST(count(*) AS BIGINT) AS n_b
  FROM mb CROSS JOIN n)
SELECT n.n AS n_rows, ha.n_a, hb.n_b, round(mi.mi, 6) AS mi,
       CASE WHEN ha.ha * hb.hb > 0
            THEN round(mi.mi / sqrt(ha.ha * hb.hb), 6)
            ELSE 0.0 END AS nmi
FROM n CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb
"""


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (operators/skew.py key_skew_profile)
    for three hot keys — the report that decides plain shuffle vs AQE
    skew-split vs salted_join, and sizes the salt. Per key: one
    map-side-combined count aggregate (shuffle carries n_keys rows)
    plus a Gini rank over the counts; exact integer sums, IEEE
    divides, 6-dp rounding."""
    from duo_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # the three per-key profiles are independent pipelines (each runs
    # its own checkpoint + offsets-collect pair inside
    # with_running_total) — build them concurrently so the six eager
    # jobs overlap instead of serializing
    parts = together(*(
        lambda d=d, k=k, lbl=lbl: key_skew_profile(d, k).withColumn(
            "key", F.lit(lbl)
        )
        for d, k, lbl in (
            (ev, "user_id", "events.user_id"),
            (orders, "o_custkey", "orders.o_custkey"),
            (li, "l_suppkey", "lineitem.l_suppkey"),
        )
    ))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "key",
        "n_rows",
        "n_keys",
        "max_count",
        "avg_count",
        "p50_count",
        "p99_count",
        "top1_share",
        "gini",
    )


def _sql_skew_block(label: str, table: str, key: str) -> str:
    return f"""
SELECT '{label}' AS key,
       CAST(sum(_c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(max(_c) AS BIGINT) AS max_count,
       round(avg(_c), 6) AS avg_count,
       quantile_cont(_c, 0.5) AS p50_count,
       quantile_cont(_c, 0.99) AS p99_count,
       round(CAST(max(_c) AS DOUBLE) / CAST(sum(_c) AS DOUBLE), 6)
         AS top1_share,
       round(CAST(2 * sum(_i * _c) - (count(*) + 1) * sum(_c) AS DOUBLE)
             / CAST(count(*) * sum(_c) AS DOUBLE), 6) AS gini
FROM (
  SELECT _c, row_number() OVER (ORDER BY _c ASC, {key} ASC) AS _i
  FROM (SELECT {key}, CAST(count(*) AS BIGINT) AS _c FROM {table}
        WHERE {key} IS NOT NULL GROUP BY 1))"""


SQL_KEY_SKEW_PROFILE = (
    _sql_skew_block("events.user_id", "events", "user_id")
    + "\nUNION ALL"
    + _sql_skew_block("orders.o_custkey", "orders", "o_custkey")
    + "\nUNION ALL"
    + _sql_skew_block("lineitem.l_suppkey", "lineitem", "l_suppkey")
)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection 64→16 (operators/
    similarity.py random_projection, Achlioptas 2003) — the
    dimensionality-reduction pass in front of ANN at 100 TB (4×
    narrower vectors shrink every downstream shuffle and distance
    kernel 4×). The ±1 matrix is the parity of the sketch family's
    Lehmer hash on the flattened index — never materialized,
    reproducible in any engine. Output exploded to (vec_id, dim, val)
    scalars so the gate hashes exactly."""
    from duo_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "embedding", d_in=64, d_out=16)
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim0", "val")
    ).select(
        "vec_id", (F.col("dim0") + 1).cast("long").alias("dim"), "val"
    )


def _sql_rp_sign() -> str:
    """The oracle's copy of the sign(i,j) hash — built by substitution
    so the Lehmer chain is spelled once."""
    k = "(CAST((i - 1) * 16 + j AS BIGINT))"
    a = f"(({k} * 48271) % 2147483647)"
    b = f"((xor({a}, {a} >> 15) * 69621) % 2147483647)"
    h = f"xor({b}, {b} >> 13)"
    return f"(1 - 2 * ({h} % 2))"


SQL_RANDOM_PROJECTION = f"""
WITH p AS (
  SELECT vec_id,
         list_transform(range(1, 17), j ->
           round(list_sum(list_transform(range(1, 65), i ->
             CAST(embedding[i] AS DOUBLE) * CAST({_sql_rp_sign()} AS DOUBLE)
           )) * {1.0 / 4.0!r}, 6)) AS proj
  FROM embeddings)
SELECT vec_id, j AS dim, proj[j] AS val
FROM p, range(1, 17) t(j)
"""


def q_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round trip (operators/bpe.py): train 3 merges, then
    ENCODE the corpus with them — the top-20 post-merge vocabulary by
    weighted count. Encoding replays the merges on the word-frequency
    table (O(distinct words) literal replaces, pure Column codegen);
    the train-side cached symbol table is released once the merges are
    extracted."""
    from duo_spark.operators.bpe import bpe_encode, bpe_train, word_freq_table

    docs = _t(spark, sf_dir, "documents")
    # ONE corpus aggregate shared by train and encode (vocab-sized
    # checkpoint; retention: the caller's scope, the lm_score policy)
    words = checkpoint(word_freq_table(docs, "text"))
    _none, merges = bpe_train(words, k=3, return_table=False)
    vocab = bpe_encode(docs, merges, "text", words=words)
    return vocab.orderBy(F.desc("n"), F.asc("token")).limit(20)


SQL_BPE_VOCAB = (
    """
WITH w0 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
    FROM documents)
  WHERE length(word) BETWEEN 2 AND 12 GROUP BY 1),
s0 AS (
  SELECT cnt, array_to_string(string_split(word, ''), ' ') AS sym FROM w0),"""
    + ",".join(_sql_bpe_stage(f"s{i - 1}", i) for i in (1, 2, 3))
    + """
SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
  SELECT cnt, unnest(string_split(sym, ' ')) AS token FROM s3)
GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20
"""
)


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 user-state history (operators/scd.py scd2_history):
    each user's event_type as a slowly-changing attribute — versioned
    [valid_from, valid_to) intervals, consecutive duplicates
    collapsed, one open row per user. ONE key shuffle; lag-collapse,
    lead-intervals, and version numbers all ride the same window
    sort. The internal tiebreak column is dropped from the gate
    output (it exists so equal timestamps stay deterministic)."""
    from duo_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events")
    hist = scd2_history(ev, "user_id", "event_type", "ts", "event_id")
    return hist.select(
        "user_id", "state", "valid_from", "valid_to", "version"
    )


SQL_SCD2_HISTORY = """
WITH seq AS (
  SELECT user_id, event_type AS state, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events),
chg AS (
  SELECT * FROM seq WHERE prev IS NULL OR prev <> state)
SELECT user_id, state, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS INT) AS version
FROM chg
"""


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-count rollup (operators/sketch.py
    hll_merge): per-(event_type, DAY) register tables merged across
    days into the per-type distinct-user estimate — the pattern where
    yesterday's sketch persists and today's unions in WITHOUT
    re-reading yesterday's events. merge == union exactly (register
    max is associative), so the oracle is the direct whole-table
    sketch; the query exercises the rollup path."""
    from duo_spark.operators.sketch import hll_estimate, hll_merge, hll_sketch

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = hll_sketch(ev, ["event_type", "day"], "user_id", m=256)
    merged = hll_merge(
        daily.drop("day"), group_cols=["event_type"]
    )
    est = hll_estimate(merged, ["event_type"], m=256)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "register_sum",
        "estimate",
        F.floor(
            F.abs(F.col("estimate") - F.col("n_exact")) * 1000.0
            / F.col("n_exact")
        ).cast("long").alias("err_pm"),
    )


#: merge == union exactly, so the rollup replays as the direct sketch
SQL_HLL_ROLLUP = SQL_HLL_DISTINCT


def q_streaming_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained HLL distinct rollup (round 8,
    streaming/rollup.streaming_hll_rollup — VERDICT r7 #6): the events
    stream split across two micro-batches, each batch's per-type
    register table max-merged into the previous version, final
    registers estimated. Register merge is associative+commutative, so
    the streamed sketch is BIT-IDENTICAL to the one-shot whole-table
    sketch — the oracle is the same deterministic DuckDB replay as
    hll_distinct."""
    import uuid as _uuid

    from duo_spark.operators.sketch import hll_estimate
    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.rollup import read_rollup, streaming_hll_rollup

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    run = _scratch("shll", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_hll_rollup(
        stream, ["event_type"], "user_id",
        out_dir=f"{run}/rollup", checkpoint_dir=f"{run}/ckpt", m=256,
    )
    q.awaitTermination()
    est = hll_estimate(read_rollup(spark, f"{run}/rollup"), ["event_type"], m=256)
    exact = _t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_exact",
        "register_sum",
        "estimate",
        F.floor(
            F.abs(F.col("estimate") - F.col("n_exact")) * 1000.0
            / F.col("n_exact")
        ).cast("long").alias("err_pm"),
    )


#: the streamed register merge equals the one-shot sketch exactly
SQL_STREAMING_HLL_ROLLUP = SQL_HLL_DISTINCT


def q_cms_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window frequency from per-hour count-min sketches
    (operators/sketch.py, group_cols path): the 3-hour event count of
    the top-5 users at EVERY hour, estimated by summing each hour's
    register table over the window — the additive-merge property that
    lets a monitoring pipeline keep one tiny sketch per period and
    answer any window by summation, never re-reading events. Probe
    side is (hours × 5 users × d buckets) joined equi on (row, bucket)
    with an hour-range predicate; one-sided overcount pinned."""
    from duo_spark.operators.sketch import _CMS_SEEDS, _hash31_seeded, cms_sketch

    W, D = 256, 4
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
        ).alias("hr"),
    ).filter(F.col("user_id").isNotNull())
    # four consumers (sketch, top-5, hour list, exact window counts)
    # each re-scan events without this; one checkpoint of the narrow
    # (user_id, hr) projection makes it a single corpus pass
    ev = checkpoint(ev)
    sk = cms_sketch(ev, "user_id", w=W, d=D, group_cols=["hr"])
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.desc("_n"), F.asc("user_id"))
        .limit(5)
        .select("user_id")
    )
    hours = ev.select("hr").distinct()
    buckets = F.array(
        *[_hash31_seeded(F.col("user_id"), s) % W for s in _CMS_SEEDS[:D]]
    )
    probe = hours.crossJoin(
        top.select("user_id", F.posexplode(buckets).alias("row", "bucket"))
    )
    skr = sk.select(
        F.col("hr").alias("_sh"),
        F.col("row").alias("_sr"),
        F.col("bucket").alias("_sb"),
        "count",
    )
    # the hour-range predicate lives IN the join condition (matching
    # the oracle's ON clause), so each probe row matches at most 3
    # register rows instead of every hour's — the left join + coalesce
    # still hands empty-window probes a 0 for the min
    est = (
        probe.join(
            skr,
            (probe["row"] == skr["_sr"])
            & (probe["bucket"] == skr["_sb"])
            & (skr["_sh"] >= probe["hr"] - 2)
            & (skr["_sh"] <= probe["hr"]),
            "left",
        )
        .groupBy("hr", "user_id", "row")
        .agg(F.coalesce(F.sum("count"), F.lit(0)).alias("_rc"))
        .groupBy("hr", "user_id")
        .agg(F.min("_rc").alias("estimate"))
    )
    hourly = ev.groupBy("user_id", F.col("hr").alias("_eh")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    hk = hours.crossJoin(top)
    hourly2 = hourly.withColumnRenamed("user_id", "_hu")
    exact = (
        hk.join(
            hourly2,
            (hk["user_id"] == hourly2["_hu"])
            & (hourly2["_eh"] >= hk["hr"] - 2)
            & (hourly2["_eh"] <= hk["hr"]),
            "left",
        )
        .groupBy("hr", "user_id")
        .agg(F.coalesce(F.sum("_c"), F.lit(0)).alias("n_exact"))
    )
    return exact.join(est, ["hr", "user_id"]).select(
        "hr",
        "user_id",
        "n_exact",
        "estimate",
        (F.col("estimate") - F.col("n_exact")).alias("overcount"),
    )


SQL_CMS_SLIDING = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hr
  FROM events WHERE user_id IS NOT NULL),
seeds(s) AS (VALUES (0), (907), (92821), (6700417)),
h1 AS (SELECT user_id, hr, s,
              ((user_id + s) % 2147483647) * 48271 % 2147483647 AS a
       FROM e CROSS JOIN seeds),
h2 AS (SELECT user_id, hr, s, xor(a, a >> 15) * 69621 % 2147483647 AS c
       FROM h1),
hv AS (SELECT user_id, hr, s, xor(c, c >> 13) % 256 AS bucket FROM h2),
sk AS (SELECT hr, s, bucket, CAST(count(*) AS BIGINT) AS cnt
       FROM hv GROUP BY 1, 2, 3),
top5 AS (SELECT user_id FROM e GROUP BY 1
         ORDER BY count(*) DESC, user_id ASC LIMIT 5),
hours AS (SELECT DISTINCT hr FROM e),
pb AS (SELECT DISTINCT user_id, s, bucket FROM hv
       WHERE user_id IN (SELECT user_id FROM top5)),
probe AS (SELECT hours.hr, pb.user_id, pb.s, pb.bucket
          FROM hours CROSS JOIN pb),
est AS (
  SELECT hr, user_id, CAST(min(rc) AS BIGINT) AS estimate FROM (
    SELECT probe.hr, probe.user_id, probe.s,
           CAST(coalesce(sum(sk.cnt), 0) AS BIGINT) AS rc
    FROM probe LEFT JOIN sk
      ON sk.s = probe.s AND sk.bucket = probe.bucket
     AND sk.hr BETWEEN probe.hr - 2 AND probe.hr
    GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
hourly AS (SELECT user_id, hr AS eh, CAST(count(*) AS BIGINT) AS c
           FROM e GROUP BY 1, 2),
exact AS (
  SELECT hours.hr, top5.user_id,
         CAST(coalesce(sum(CASE WHEN hourly.eh BETWEEN hours.hr - 2
                            AND hours.hr THEN hourly.c END), 0) AS BIGINT)
           AS n_exact
  FROM hours CROSS JOIN top5
  LEFT JOIN hourly ON hourly.user_id = top5.user_id
  GROUP BY 1, 2)
SELECT exact.hr, exact.user_id, n_exact, estimate,
       CAST(estimate - n_exact AS BIGINT) AS overcount
FROM exact JOIN est ON est.hr = exact.hr AND est.user_id = exact.user_id
"""


# registry
# ---------------------------------------------------------------------

# Ordering note (round 8): the external correctness driver replays exactly
# the FIRST 50 entries of this dict against their DuckDB oracles.  The
# round-8 window executes the churn-aware rotation policy (OPERATORS.md):
# slots 1-10 the ten debt queries DEVIATIONS #12 promised, slot 11 the new
# streaming_hll_rollup, slots 12-23 the operators changed this round,
# slots 24-44 the 21 stalest (r5) entries, slots 45-50 the round-8
# operator wave.  The late round-8 additions that missed the full window
# (k_anonymity, streaming_moments_rollup, hll_sliding,
# contamination_report, packing_stats, streaming_anomaly) sit first below
# the cutoff and lead round 9 — the same discipline as round 7's
# displacement, all sf0.001+sf0.01 local-parity green this round.

# round-8 operator wave: labels / moments / validation / hard negatives
# ----------------------------------------------------------------------


def q_label_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label resolution (operators/labels.py
    resolve_labels, round 8): events as a multi-rater annotation table
    (item = event_id % 200, label = event_type) collapsed to one label
    per item with the per-item agreement signal — two map-side-combined
    hash aggregates, deterministic tie-break (votes desc, label asc),
    exact integer counts + one IEEE divide."""
    from duo_spark.operators.labels import resolve_labels

    votes = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 200).alias("item"),
        F.col("event_type").alias("label"),
    )
    return resolve_labels(votes, "item", "label")


SQL_LABEL_RESOLUTION = """
WITH votes AS (
  SELECT event_id % 200 AS item, event_type AS label FROM events
  WHERE event_type IS NOT NULL),
c AS (SELECT item, label, CAST(count(*) AS BIGINT) AS votes
      FROM votes GROUP BY 1, 2),
r AS (SELECT item, label, votes,
             row_number() OVER (PARTITION BY item
                                ORDER BY votes DESC, label ASC) AS rk,
             SUM(votes) OVER (PARTITION BY item) AS n_votes
      FROM c)
SELECT item, label, CAST(n_votes AS BIGINT) AS n_votes,
       votes AS top_votes,
       round(CAST(votes AS DOUBLE) / CAST(n_votes AS DOUBLE), 6) AS agreement
FROM r WHERE rk = 1
"""


def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (operators/labels.py fleiss_kappa, round 8,
    Fleiss 1971) over the same multi-rater vote table — the corpus-
    level agreement statistic a dataset card reports. Exact integer
    pair counts reduced to one row; three IEEE divides, 6 dp."""
    from duo_spark.operators.labels import fleiss_kappa

    votes = _t(spark, sf_dir, "events").select(
        (F.col("event_id") % 200).alias("item"),
        F.col("event_type").alias("label"),
    )
    return fleiss_kappa(votes, "item", "label")


SQL_ANNOTATOR_KAPPA = """
WITH votes AS (
  SELECT event_id % 200 AS item, event_type AS label FROM events
  WHERE event_type IS NOT NULL),
c AS (SELECT item, label, CAST(count(*) AS BIGINT) AS votes
      FROM votes GROUP BY 1, 2),
per_item AS (
  SELECT item, SUM(votes) AS _n, SUM(votes * (votes - 1)) AS _ap
  FROM c GROUP BY 1),
multi AS (SELECT * FROM per_item WHERE _n >= 2),
po AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(SUM(_n) AS BIGINT) AS n_ratings,
         AVG(CAST(_ap AS DOUBLE) / CAST(_n * (_n - 1) AS DOUBLE)) AS _po
  FROM multi),
shares AS (
  SELECT c.label, SUM(c.votes) AS _v
  FROM c JOIN multi USING (item) GROUP BY 1),
pe AS (
  SELECT SUM(CAST(_v AS DOUBLE) * CAST(_v AS DOUBLE))
         / (SUM(CAST(_v AS DOUBLE)) * SUM(CAST(_v AS DOUBLE))) AS _pe
  FROM shares)
SELECT n_items, n_ratings, round(_po, 6) AS p_o, round(_pe, 6) AS p_e,
       round((_po - _pe) / (1.0 - _pe), 6) AS kappa
FROM po CROSS JOIN pe
"""


def q_moments_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments sketch (operators/sketch.py moments_sketch, round 8,
    Gan et al. 2018): per-(event_type, day) exact integer power-sum
    sketches ADD-merged across days (the same incremental-rollup
    shape as hll_rollup, completing the family's merge algebra: HLL
    max, CMS sum, moments sum), then mean/stddev/skew and the
    Cornish-Fisher p95 estimate from the merged sums. The power sums
    accumulate in DECIMAL(38,0) — exact in Spark and DuckDB, no float
    order-dependence — so every emitted statistic is one fixed IEEE
    expression over identical integers."""
    from duo_spark.operators.sketch import (
        moments_merge,
        moments_sketch,
        moments_stats,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = moments_sketch(ev, ["event_type", "day"], "value", scale=100)
    merged = moments_merge(daily.drop("day"), group_cols=["event_type"])
    return moments_stats(merged, ["event_type"], scale=100)


SQL_MOMENTS_QUANTILES = """
WITH v AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS _v
  FROM events WHERE value IS NOT NULL),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         MIN(_v) AS vmin, MAX(_v) AS vmax,
         SUM(CAST(_v AS HUGEINT)) AS m1,
         SUM(CAST(_v AS HUGEINT) * _v) AS m2,
         SUM(CAST(_v AS HUGEINT) * _v * _v) AS m3,
         SUM(CAST(_v AS HUGEINT) * _v * _v * _v) AS m4
  FROM v GROUP BY 1),
d AS (
  SELECT event_type, n, vmin, vmax,
         CAST(m1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1d,
         CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE) AS m2d,
         CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE) AS m3d
  FROM s),
t AS (
  SELECT event_type, n, vmin, vmax, m1d,
         sqrt(m2d - m1d * m1d) AS sd,
         m3d - 3 * m1d * m2d + 2 * m1d * m1d * m1d AS mu3
  FROM d),
u AS (
  SELECT event_type, n, vmin, vmax, m1d, sd,
         CASE WHEN sd > 0 THEN mu3 / (sd * sd * sd) ELSE 0.0 END AS skew
  FROM t)
SELECT event_type, n,
       round(m1d * (1.0 / 100), 6) AS mean,
       round(sd * (1.0 / 100), 6) AS stddev,
       round(skew, 6) AS skewness,
       round(least(greatest(
                 m1d + sd * (1.6448536269514722
                   + (1.6448536269514722 * 1.6448536269514722 - 1) / 6 * skew),
                 CAST(vmin AS DOUBLE)), CAST(vmax AS DOUBLE))
             * (1.0 / 100), 6) AS p95_est,
       round(CAST(vmin AS DOUBLE) * (1.0 / 100), 6) AS vmin,
       round(CAST(vmax AS DOUBLE) * (1.0 / 100), 6) AS vmax
FROM u
"""


def q_validate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/validate.py, round 8):
    six expectations over the orders table — four row-level
    predicates riding ONE map-side-combined aggregate (one scan
    however many rules), a uniqueness rule (distinct-key aggregate),
    and a referential rule (o_custkey ⊆ customer, broadcast anti
    join). Exact integer violation counts, ppm rate."""
    from duo_spark.operators.validate import validate

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return validate(
        orders,
        rules={
            "totalprice_positive": "o_totalprice > 0",
            "status_in_domain": "o_orderstatus IN ('O', 'F', 'P')",
            "orderdate_not_null": "o_orderdate IS NOT NULL",
            "priority_prefixed": "o_orderpriority LIKE '_-%'",
        },
        unique=["o_orderkey"],
        foreign_keys=[("o_custkey", customer, "c_custkey")],
    )


SQL_VALIDATE_ORDERS = """
WITH base AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
rowrules AS (
  SELECT * FROM (
    SELECT 'totalprice_positive' AS rule,
           CAST(SUM(CASE WHEN COALESCE(o_totalprice > 0, FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'status_in_domain',
           CAST(SUM(CASE WHEN COALESCE(o_orderstatus IN ('O','F','P'), FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orderdate_not_null',
           CAST(SUM(CASE WHEN o_orderdate IS NOT NULL
                         THEN 0 ELSE 1 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'priority_prefixed',
           CAST(SUM(CASE WHEN COALESCE(o_orderpriority LIKE '_-%', FALSE)
                         THEN 0 ELSE 1 END) AS BIGINT) FROM orders)),
uniq AS (
  SELECT 'unique(o_orderkey)' AS rule,
         CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_violations
  FROM (SELECT count(*) AS c FROM orders WHERE o_orderkey IS NOT NULL
        GROUP BY o_orderkey HAVING count(*) > 1)),
fk AS (
  SELECT 'fk(o_custkey -> c_custkey)' AS rule,
         CAST(count(*) AS BIGINT) AS n_violations
  FROM orders o
  WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
allrules AS (SELECT * FROM rowrules UNION ALL SELECT * FROM uniq
             UNION ALL SELECT * FROM fk)
SELECT rule, b.n_rows, a.n_violations,
       CAST(floor(a.n_violations * 1000000 / b.n_rows) AS BIGINT)
         AS violation_ppm
FROM allrules a CROSS JOIN base b
"""


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py hard_negatives,
    round 8): for three anchor vectors, the 5 nearest corpus vectors
    with a DIFFERENT label — contrastive-training near-misses. Same
    broadcast + two-phase top-k shape as topk_batch; the label filter
    runs map-side before any aggregation."""
    from duo_spark.operators.similarity import hard_negatives

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    out = hard_negatives(emb, anchors, k=5)
    return out.select(
        "anchor_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


SQL_HARD_NEGATIVES = """
WITH q AS (SELECT vec_id AS anchor_id, embedding AS qe, label AS ql
           FROM embeddings WHERE vec_id IN (0, 1, 2)),
sims AS (
  SELECT q.anchor_id, e.vec_id,
         list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * q.qe[i]))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
          * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE)*x)))) AS cos
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.ql AND e.vec_id <> q.anchor_id),
ranked AS (
  SELECT anchor_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM sims)
SELECT anchor_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
"""



def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed hard-negative mining (operators/similarity.py
    hard_negatives_lsh, round 8) — the anchor-scale path: both sides
    banded with the same hyperplane signatures, candidates are
    same-bucket different-label pairs (equi-join, never all pairs),
    exact cosine + two-phase top-3. The oracle REPLAYS the pruning
    (the ann_lsh pattern): hyperplane constants inlined as VALUES,
    band keys recomputed per row/anchor in float64, identical
    admission, exact cosine rank."""
    from duo_spark.operators.similarity import hard_negatives_lsh

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    out = hard_negatives_lsh(emb, anchors, k=3, bands=16, planes_per_band=4)
    return out.select(
        "anchor_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


SQL_HARD_NEGATIVES_LSH = f"""
WITH planes(t, j, p) AS (VALUES {_lsh_planes_values(n_tables=16, n_planes=4)}),
rows_ AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
rb AS (
  SELECT vec_id, label, t,
         sum(CASE WHEN list_sum(list_transform(range(1, 65), i -> p[i] * v[i])) >= 0
             THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS b
  FROM planes, rows_ GROUP BY vec_id, label, t),
anch AS (SELECT vec_id AS anchor_id, label AS al, b AS ab, t
         FROM rb WHERE vec_id IN (0, 1, 2)),
cand AS (
  SELECT DISTINCT a.anchor_id, r.vec_id
  FROM rb r JOIN anch a ON r.t = a.t AND r.b = a.ab
  WHERE r.label <> a.al AND r.vec_id <> a.anchor_id),
scored AS (
  SELECT c.anchor_id, c.vec_id,
         list_sum(list_transform(range(1, 65),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE)*x)))
          * sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE)*x)))) AS cos
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN embeddings q ON q.vec_id = c.anchor_id),
ranked AS (
  SELECT anchor_id, vec_id, cos,
         CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT anchor_id, vec_id, round(cos, 6) AS cosine, rank
FROM ranked WHERE rank <= 3
"""



def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (operators/validate.py k_anonymity, round 8,
    Sweeney 2002): are users re-identifiable from (event_type, hour,
    value-band) quasi-identifiers at k=5? One hash aggregate to
    equivalence classes + a 1-row reduction — the governance gate a
    user-derived training set runs before release."""
    from duo_spark.operators.validate import k_anonymity

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").alias("hr"),
        F.floor(F.col("value") / 100).cast("long").alias("value_band"),
    )
    return k_anonymity(ev, ["event_type", "hr", "value_band"], k=5)


SQL_K_ANONYMITY = """
WITH q AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr,
         CAST(floor(value / 100) AS BIGINT) AS value_band
  FROM events),
c AS (SELECT event_type, hr, value_band, CAST(count(*) AS BIGINT) AS _c
      FROM q GROUP BY 1, 2, 3)
SELECT CAST(sum(_c) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(min(_c) AS BIGINT) AS min_class_size,
       min(_c) >= 5 AS k_anonymous,
       CAST(sum(CASE WHEN _c < 5 THEN _c ELSE 0 END) AS BIGINT)
         AS n_violating_rows,
       CAST(sum(CASE WHEN _c < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes
FROM c
"""



def q_streaming_moments_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained moments sketch (round 8,
    streaming/rollup.streaming_moments_rollup): the events stream split
    across two micro-batches, per-batch DECIMAL power sums add-merged
    into the previous version, stats from the final registers. The
    merge is exact (decimal sums are order-free), so the oracle is the
    same one-shot replay as moments_quantiles."""
    import uuid as _uuid

    from duo_spark.operators.sketch import moments_stats
    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.rollup import read_rollup, streaming_moments_rollup

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    run = _scratch("smom", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_moments_rollup(
        stream, ["event_type"], "value",
        out_dir=f"{run}/rollup", checkpoint_dir=f"{run}/ckpt",
    )
    q.awaitTermination()
    return moments_stats(read_rollup(spark, f"{run}/rollup"), ["event_type"])


#: add-merge of decimal power sums == the one-shot sketch exactly
SQL_STREAMING_MOMENTS_ROLLUP = SQL_MOMENTS_QUANTILES



def q_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window DISTINCT counts from per-hour HLL register
    tables (round 8 — the max-merge counterpart of cms_sliding's
    additive windows): distinct users in each trailing 3-hour window,
    estimated by MAX-merging the window's per-hour registers. HLL
    cannot subtract (max is not invertible), so sliding windows
    RE-MERGE the trailing k period sketches — still k×m register rows
    per window, never the events; the hour-range predicate lives in
    the join ON like cms_sliding. Bit-exact oracle replay (same
    Lehmer/rho/fixed-point discipline as hll_distinct)."""
    from duo_spark.operators.sketch import hll_estimate, hll_sketch

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(3600000000)
        ).alias("hr"),
    ).filter(F.col("user_id").isNotNull())
    # three consumers (hourly sketch, hour list, exact window counts)
    # each re-scan events without this — same single-pass checkpoint
    # as cms_sliding
    ev = checkpoint(ev)
    hourly = hll_sketch(ev, ["hr"], "user_id", m=256)
    hours = ev.select("hr").distinct()
    sk = hourly.select(
        F.col("hr").alias("_sh"), "bucket", "register"
    )
    windowed = (
        hours.join(
            sk,
            (sk["_sh"] >= hours["hr"] - 2) & (sk["_sh"] <= hours["hr"]),
        )
        .groupBy("hr", "bucket")
        .agg(F.max("register").alias("register"))
    )
    est = hll_estimate(windowed, ["hr"], m=256)
    exact = (
        hours.alias("h")
        .join(
            ev.select(F.col("hr").alias("_eh"), "user_id").alias("e"),
            (F.col("e._eh") >= F.col("h.hr") - 2)
            & (F.col("e._eh") <= F.col("h.hr")),
        )
        .groupBy("hr")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return est.join(exact, "hr").select(
        "hr", "n_exact", "register_sum", "estimate"
    )


SQL_HLL_SLIDING = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch_us(ts) / 3600000000) AS BIGINT) AS hr
  FROM events WHERE user_id IS NOT NULL),
h1 AS (SELECT hr, (user_id % 2147483647) * 48271 % 2147483647 AS a FROM ev),
h2 AS (SELECT hr, xor(a, a >> 15) * 69621 % 2147483647 AS c FROM h1),
v AS (SELECT hr, xor(c, c >> 13) AS h FROM h2),
b AS (
  SELECT hr, h % 256 AS bucket,
         CASE WHEN floor(h / 256) = 0 THEN 24
              ELSE 24 - length(bin(CAST(floor(h / 256) AS BIGINT))) END AS rho
  FROM v),
reg AS (SELECT hr, bucket, max(rho) AS register FROM b GROUP BY 1, 2),
hours AS (SELECT DISTINCT hr FROM ev),
win AS (
  SELECT hours.hr, reg.bucket, max(reg.register) AS register
  FROM hours JOIN reg ON reg.hr BETWEEN hours.hr - 2 AND hours.hr
  GROUP BY 1, 2),
s AS (
  SELECT hr,
         sum(CAST(1 AS BIGINT) << CAST(24 - register AS INT)) AS present_sum,
         count(*) AS n_present
  FROM win GROUP BY 1),
est AS (
  SELECT hr,
         CAST(present_sum + (256 - n_present) * 16777216 AS BIGINT) AS register_sum
  FROM s),
fin AS (
  SELECT hr, register_sum,
         CAST(floor(0.7213 / (1.0 + 1.079 / 256) * 65536.0 * 16777216.0
                    / register_sum) AS BIGINT) AS estimate
  FROM est),
ex AS (
  SELECT hours.hr, CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_exact
  FROM hours JOIN ev e ON e.hr BETWEEN hours.hr - 2 AND hours.hr
  GROUP BY 1)
SELECT f.hr, ex.n_exact, f.register_sum, f.estimate
FROM fin f JOIN ex ON f.hr = ex.hr
"""



def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gram-level contamination report (operators/decontam.py
    contamination_report, round 8): for every 97th document as an eval
    probe, the fraction of its distinct 3-grams present ANYWHERE in
    the rest of the corpus — the dataset-card number next to
    decontam's membership check. Corpus grams reduce to DISTINCT once
    (shuffle = distinct grams, never the corpus), probes broadcast."""
    from duo_spark.operators.decontam import contamination_report

    docs = _docs(spark, sf_dir)
    probes = docs.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("probe_id"), "text"
    )
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_report(train, probes, n=3)


SQL_CONTAMINATION_REPORT = r"""
WITH g AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w)-1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS grams
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents)),
probes AS (SELECT doc_id AS probe_id, grams FROM g WHERE doc_id % 97 = 0),
corpus AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 <> 0),
pg AS (SELECT probe_id, unnest(grams) AS gram FROM probes),
pcount AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_grams FROM pg GROUP BY 1),
leaked AS (
  SELECT pg.probe_id, CAST(count(*) AS BIGINT) AS n_leaked
  FROM pg JOIN corpus USING (gram) GROUP BY 1)
SELECT p.probe_id, p.n_grams,
       COALESCE(l.n_leaked, 0) AS n_leaked,
       CAST(floor(COALESCE(l.n_leaked, 0) * 1000000 / p.n_grams) AS BIGINT)
         AS leak_ppm
FROM pcount p LEFT JOIN leaked l USING (probe_id)
"""


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report (operators/sharding.py packing_stats,
    round 8) over the pack_sequences gate's exact configuration:
    per-shard sequence counts, token totals, context-window
    utilization, and fill percentiles — the padding-waste number a
    data team sizes ``capacity`` by."""
    from duo_spark.operators.sharding import pack_sequences, packing_stats

    n_ws = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", n_ws.cast("long").alias("n_tokens")
    )
    packed = pack_sequences(docs, capacity=256, num_shards=8)
    return packing_stats(packed, capacity=256)


_PACKING_TAIL = """SELECT doc_id, shard, seq, fill AS seq_fill FROM p"""
SQL_PACKING_STATS = SQL_PACK_SEQUENCES.replace(
    _PACKING_TAIL,
    """, q AS (
  SELECT CAST(shard AS BIGINT) AS shard, seq,
         CAST(count(*) AS BIGINT) AS _docs, CAST(max(fill) AS BIGINT) AS _fill
  FROM p GROUP BY 1, 2
)
SELECT shard, CAST(sum(_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_seqs,
       CAST(sum(_fill) AS BIGINT) AS total_tokens,
       round(CAST(sum(_fill) AS DOUBLE) / CAST(count(*) * 256 AS DOUBLE), 6)
         AS utilization,
       quantile_cont(_fill, 0.5) AS p50_fill,
       CAST(min(_fill) AS BIGINT) AS min_fill
FROM q GROUP BY shard""",
)
assert "utilization" in SQL_PACKING_STATS, "packing tail drifted"



def q_streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitoring composition end-to-end (round 8): events stream
    into a continuously-maintained per-(event_type, day) count rollup
    (streaming/rollup.py, two micro-batches), and the rolling z-score
    (operators/anomaly.zscore_over_daily) scores the MAINTAINED table —
    no re-read of historical events, which is the entire point of the
    incremental rollup. Rollup == one-shot GROUP BY exactly, so the
    oracle replays the whole-table daily aggregate + the same integer
    window sums; top-20 by |z| like anomaly_zscore."""
    import uuid as _uuid

    from duo_spark.operators.anomaly import zscore_over_daily
    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.rollup import read_rollup, streaming_rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(_ts_us() / F.lit(86_400_000_000)).cast("long").alias("day"),
    )
    run = _scratch("sanom", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, day long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_rollup(
        stream,
        ["event_type", "day"],
        {"n": ("count", "event_id")},
        out_dir=f"{run}/rollup",
        checkpoint_dir=f"{run}/ckpt",
    )
    q.awaitTermination()
    daily = read_rollup(spark, f"{run}/rollup")
    scored = zscore_over_daily(daily, ["event_type"], window_days=7, min_history=5)
    return (
        scored.filter(F.col("z").isNotNull())
        .orderBy(F.abs("z").desc(), "event_type", "day")
        .limit(20)
        .select("event_type", "day", "n", "hist_days", "hist_mean", "z")
    )


SQL_STREAMING_ANOMALY = SQL_ANOMALY_ZSCORE


# --------------------------------------------------------------------------
# round 9: governance audits, corpus-quality filters, OLAP cube,
# equi-depth stats, sketch set algebra, k-core, streaming sessions
# --------------------------------------------------------------------------


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators/validate.py l_diversity,
    Machanavajjhala 2007): can an attacker who pins down a customer's
    (status, priority, order-year) equivalence class learn WHICH
    customer placed the order? Two map-side hash aggregates + a 1-row
    reduction — the k-anonymity report's sensitive-attribute
    companion."""
    from duo_spark.operators.validate import l_diversity

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").alias("o_year"),
        "o_custkey",
    )
    return l_diversity(
        o, ["o_orderstatus", "o_orderpriority", "o_year"], "o_custkey", l=3
    )


SQL_L_DIVERSITY = """
WITH pv AS (
  SELECT o_orderstatus, o_orderpriority, year(o_orderdate) AS o_year,
         o_custkey, count(*) AS c
  FROM orders GROUP BY 1, 2, 3, 4),
cl AS (
  SELECT o_orderstatus, o_orderpriority, o_year,
         CAST(sum(c) AS BIGINT) AS rows_, CAST(count(*) AS BIGINT) AS nsv
  FROM pv GROUP BY 1, 2, 3)
SELECT CAST(sum(rows_) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_classes,
       min(nsv) AS min_distinct_sensitive,
       min(nsv) >= 3 AS l_diverse,
       CAST(sum(CASE WHEN nsv < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(sum(CASE WHEN nsv < 3 THEN rows_ ELSE 0 END) AS BIGINT)
         AS n_violating_rows
FROM cl
"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (operators/validate.py t_closeness, Li 2007):
    does any (priority, order-year) class's ORDER-STATUS distribution
    diverge from the table's by more than total-variation 0.3? The
    distribution-level rung above k-anonymity/l-diversity; absent
    values folded algebraically, no classes x values cross-join.
    NULL sensitive values count as a domain value (null-safe class↔
    global join, ADVICE r9) — mirrored with IS NOT DISTINCT FROM in
    the oracle."""
    from duo_spark.operators.validate import t_closeness

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.year("o_orderdate").alias("o_year"),
        "o_orderstatus",
    )
    return t_closeness(
        o, ["o_orderpriority", "o_year"], "o_orderstatus", t=0.3
    )


SQL_T_CLOSENESS = """
WITH cv AS (
  SELECT o_orderpriority, year(o_orderdate) AS o_year, o_orderstatus,
         CAST(count(*) AS DOUBLE) AS c
  FROM orders GROUP BY 1, 2, 3),
tt AS (
  SELECT o_orderpriority, o_year, sum(c) AS ct FROM cv GROUP BY 1, 2),
gv AS (
  SELECT o_orderstatus, CAST(count(*) AS DOUBLE) AS g
  FROM orders GROUP BY 1),
gt AS (SELECT sum(g) AS tot FROM gv),
pc AS (
  SELECT cv.o_orderpriority, cv.o_year,
         0.5 * (sum(abs(cv.c / tt.ct - gv.g / gt.tot))
                + (1 - sum(gv.g / gt.tot))) AS tvd
  FROM cv
  JOIN tt USING (o_orderpriority, o_year)
  JOIN gv ON cv.o_orderstatus IS NOT DISTINCT FROM gv.o_orderstatus
  CROSS JOIN gt
  GROUP BY 1, 2)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       round(max(tvd), 6) AS max_tvd,
       max(tvd) <= 0.3 AS t_close,
       CAST(sum(CASE WHEN tvd > 0.3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes
FROM pc
"""


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy quality filter (operators/text.py
    char_entropy): bits/char from exact integer character counts —
    the compressibility screen that separates natural text from
    base64 blobs and stuck-key repetition. One explode + two
    map-combined hash aggregates, all codegen."""
    docs = _docs(spark, sf_dir)
    return text.char_entropy(docs, "doc_id", "text")


SQL_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
cnt AS (
  SELECT doc_id, c, CAST(count(*) AS BIGINT) AS n
  FROM ch WHERE c <> '' GROUP BY 1, 2)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_counted,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy
FROM cnt GROUP BY doc_id
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity score (operators/text.py bigram_lm_score,
    add-0.5 smoothing): corpus-trained conditional token
    probabilities — catches shuffled/stuffed text whose unigram
    profile is clean. Codegen zipped-slice bigrams, two count
    aggregates, two big-big hash joins."""
    docs = _docs(spark, sf_dir)
    return text.bigram_lm_score(docs, "doc_id", "text", alpha=0.5)


SQL_BIGRAM_LM = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
uni AS (
  SELECT t AS w1, CAST(count(*) AS DOUBLE) AS c1
  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) u(i)
  WHERE len(ts) >= 2),
bi AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM pairs GROUP BY 1, 2)
SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln((u.c1 + 0.5 * v.v) / (b.c2 + 0.5))), 6) AS bigram_lm
FROM pairs p
JOIN bi b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v
GROUP BY p.doc_id
"""


def q_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level boilerplate report (operators/text.py
    segment_boilerplate, CCNet-style): 3-token segments occurring in
    >= 5 distinct documents are chrome/boilerplate; per doc, how much
    survives removal. Segments built as zipped array slices in the
    row, one explode, two hash aggregates, one re-join."""
    docs = _docs(spark, sf_dir)
    return text.segment_boilerplate(
        docs, "doc_id", "text", seg_tokens=3, min_docs=5
    )


SQL_BOILERPLATE_SEGMENTS = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
segs AS (
  SELECT doc_id,
         array_to_string(list_slice(ts, i * 3 + 1, i * 3 + 3), ' ') AS seg,
         least(3, len(ts) - i * 3) AS tk
  FROM toks, unnest(generate_series(0, CAST(ceil(len(ts) / 3.0) AS BIGINT) - 1)) u(i)
  WHERE len(ts) >= 1),
sdf AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT seg, doc_id FROM segs) GROUP BY 1)
SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boilerplate,
       round(sum(CASE WHEN f.df >= 5 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
         AS boilerplate_ratio,
       CAST(sum(CASE WHEN f.df >= 5 THEN 0 ELSE s.tk END) AS BIGINT)
         AS kept_tokens
FROM segs s JOIN sdf f USING (seg)
GROUP BY s.doc_id
"""


def q_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of order totals (operators/profile.py
    equidepth_histogram): 16 equal-count buckets with exact NTILE
    semantics, built WITHOUT a global sort via the two-level
    range-partition rank (sharding.ntile_by_key under a constant
    key) — the ANALYZE statistic at 100 TB scale."""
    from duo_spark.operators.profile import equidepth_histogram

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    out = equidepth_histogram(o, "o_totalprice", "o_orderkey", buckets=16)
    return out.select(
        "bucket",
        "n",
        F.round("lo", 2).alias("lo"),
        F.round("hi", 2).alias("hi"),
    )


SQL_EQUIDEPTH_HIST = """
WITH t AS (
  SELECT o_totalprice,
         ntile(16) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
FROM t GROUP BY bucket
"""


def q_hll_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from HLL sketches (operators/sketch.py
    hll_overlap): how many distinct users both viewed AND purchased,
    WITHOUT co-shuffling the two user sets — register-table union +
    inclusion-exclusion, every number bit-deterministic and replayed
    by the oracle from the same Lehmer hash."""
    from duo_spark.operators.sketch import hll_overlap

    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_overlap(ev, "event_type", "user_id", "view", "purchase")


SQL_HLL_AUDIENCE_OVERLAP = """
WITH src AS (
  SELECT event_type, user_id FROM events
  WHERE user_id IS NOT NULL AND event_type IN ('view', 'purchase')),
h1 AS (SELECT event_type, (user_id % 2147483647) * 48271 % 2147483647 AS a FROM src),
h2 AS (SELECT event_type, xor(a, a >> 15) * 69621 % 2147483647 AS c FROM h1),
v AS (SELECT event_type, xor(c, c >> 13) AS h FROM h2),
b AS (
  SELECT event_type, h % 256 AS bucket,
         CASE WHEN floor(h / 256) = 0 THEN 24
              ELSE 24 - length(bin(CAST(floor(h / 256) AS BIGINT))) END AS rho
  FROM v),
reg AS (SELECT event_type, bucket, max(rho) AS register FROM b GROUP BY 1, 2),
est AS (
  SELECT event_type,
         CAST(floor(0.7213 / (1.0 + 1.079 / 256) * 65536.0 * 16777216.0 /
              (sum(CAST(1 AS BIGINT) << CAST(24 - register AS INT))
               + (256 - count(*)) * 16777216)) AS BIGINT) AS estimate
  FROM reg GROUP BY 1),
ureg AS (SELECT bucket, max(register) AS register FROM reg GROUP BY 1),
uest AS (
  SELECT CAST(floor(0.7213 / (1.0 + 1.079 / 256) * 65536.0 * 16777216.0 /
              (sum(CAST(1 AS BIGINT) << CAST(24 - register AS INT))
               + (256 - count(*)) * 16777216)) AS BIGINT) AS est_union
  FROM ureg),
ab AS (
  SELECT COALESCE(max(CASE WHEN event_type = 'view' THEN estimate END),
                  0) AS est_a,
         COALESCE(max(CASE WHEN event_type = 'purchase' THEN estimate END),
                  0) AS est_b
  FROM est)
SELECT ab.est_a, ab.est_b, COALESCE(u.est_union, 0) AS est_union,
       greatest(ab.est_a + ab.est_b - COALESCE(u.est_union, 0), 0)
         AS est_intersection,
       CASE WHEN COALESCE(u.est_union, 0) > 0
            THEN round(greatest(ab.est_a + ab.est_b - u.est_union, 0) * 1.0
                       / u.est_union, 6)
            ELSE 0.0 END AS jaccard_est
FROM ab CROSS JOIN uest u
"""


#: k for the co-ordered-parts core; below the graph's degeneracy cliff
#: at sf0.01 (non-trivial 4-round peel) and fully peeling at sf0.001.
K_CORE_K = 75
#: peel rounds the oracle unrolls; measured convergence is <= 4 at
#: both gate scales, and rounds past the fixpoint are no-ops. The
#: oracle ASSERTS convergence (last two node sets equal) and errors
#: out otherwise — data needing more rounds fails loudly instead of
#: hash-mismatching with a silently non-converged core (ADVICE r9).
_K_CORE_ROUNDS = 12


def _k_core_sql() -> str:
    """Chained-CTE replay of the synchronous peel: round i keeps the
    nodes whose degree in round i-1's surviving edge set is >= k.
    Extra rounds past convergence are identity — the unroll count
    only needs to be >= the rounds the data actually needs, and the
    final convergence check turns "needs more" into an explicit
    oracle error rather than a wrong answer."""
    parts = [
        """WITH e0 AS MATERIALIZED (
  SELECT DISTINCT least(l1.l_partkey, l2.l_partkey) AS s,
         greatest(l1.l_partkey, l2.l_partkey) AS d
  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
  WHERE l1.l_partkey < l2.l_partkey),
u0 AS MATERIALIZED (SELECT s, d FROM e0 UNION ALL SELECT d, s FROM e0)"""
    ]
    for i in range(1, _K_CORE_ROUNDS + 1):
        parts.append(
            f"""n{i} AS MATERIALIZED (
  SELECT s AS node FROM u{i - 1} GROUP BY s HAVING count(*) >= {K_CORE_K}),
u{i} AS MATERIALIZED (
  SELECT u.s, u.d FROM u{i - 1} u
  JOIN n{i} a ON u.s = a.node JOIN n{i} b ON u.d = b.node)"""
        )
    parts.append(
        f"""fin AS (
  SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
  FROM u{_K_CORE_ROUNDS} GROUP BY s),
chk AS (
  SELECT CASE WHEN (SELECT count(*) FROM n{_K_CORE_ROUNDS})
                 = (SELECT count(*) FROM n{_K_CORE_ROUNDS - 1})
         THEN 1
         ELSE error('k-core oracle: peel not converged after {_K_CORE_ROUNDS} rounds — raise _K_CORE_ROUNDS')
         END AS converged)"""
    )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, degree FROM fin CROSS JOIN chk"
        + f"\nWHERE degree >= {K_CORE_K} AND chk.converged = 1"
    )


SQL_K_CORE_PARTS = _k_core_sql()


def q_k_core_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-ordered-parts graph (operators/graph.py
    k_core, Seidman 1983): parts that appear together in an order are
    edges; the 75-core is the densely co-purchased kernel after the
    low-degree fringe peels away (4 cascading rounds at sf0.01).
    Per-round: two semi-joins + one degree aggregate, edge set
    monotonically shrinking, checkpointed flat."""
    from duo_spark.operators.graph import k_core

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # co-ordered pairs generated IN the row from each order's sorted
    # distinct part set (one groupBy exchange + array codegen) instead
    # of the equi-self-join (two exchanges of the full lineitem
    # projection + join fanout). Identical edge set: sort_array over
    # collect_set yields every pa < pb pair exactly once per order, and
    # k_core's _canonical_edges distinct collapses cross-order repeats
    # just as it collapsed the join's duplicates. Per-row fanout is
    # bounded by order size (TPC-H: <= 7 lineitems), so no skew risk.
    grp = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    edges = grp.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ps"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ps"), i + F.lit(2), F.size("ps")),
                        lambda y: F.struct(x.alias("src"), y.alias("dst")),
                    ),
                )
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return k_core(edges, K_CORE_K)


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP CUBE over the event stream: (event_type x weekday) counts
    and value sums with ALL subtotal planes in one pass — Spark's
    native .cube lowers to a single Expand + hash aggregate (one
    scan, map-side partials), the grouping-sets shape every BI layer
    compiles to."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.timestamp_micros(_ts_us()), "E").alias("dow"),
        "value",
    )
    return (
        ev.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce("dow", F.lit("ALL")).alias("dow"),
            "n",
            "sum_value",
        )
    )


SQL_EVENTS_CUBE = """
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(strftime(ts, '%a'), 'ALL') AS dow,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, strftime(ts, '%a'))
"""


def q_streaming_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained count-min heavy-hitter estimates
    (streaming/rollup.streaming_cms_rollup): the events stream split
    across two micro-batches, each batch's d×w register table
    ADD-merged into the previous version (CMS's sum-merge — the
    algebra HLL's max lacks), then the exact top-20 users are looked
    up against the MAINTAINED registers. Additive merge is exact, so
    the streamed sketch equals the one-shot batch sketch register for
    register and the oracle is cms_topk's unchanged DuckDB replay.
    Completes the streaming sketch trio (HLL r8, moments r8, CMS)."""
    import uuid as _uuid

    from duo_spark.operators.sketch import cms_lookup
    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.rollup import read_rollup, streaming_cms_rollup

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    run = _scratch("scms", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(src)
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = streaming_cms_rollup(
        stream, "user_id",
        out_dir=f"{run}/rollup", checkpoint_dir=f"{run}/ckpt",
        w=256, d=4,
    )
    q.awaitTermination()
    sk = read_rollup(spark, f"{run}/rollup")
    exact = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    top = exact.orderBy(F.desc("n_exact"), F.asc("user_id")).limit(20)
    est = cms_lookup(sk, top.select("user_id"), "user_id", w=256, d=4)
    return top.join(est, "user_id").select(
        "user_id",
        "n_exact",
        "estimate",
        (F.col("estimate") - F.col("n_exact")).alias("overcount"),
    )


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization on the REAL Structured Streaming path
    (streaming/sessions.py streaming_session_stats): events staged as
    two file-drops, per-user session_window state in the state store,
    sessions emitted append-mode as the watermark closes them. A
    per-user sentinel event far past the data pushes the final
    watermark so every real session flushes; sentinel sessions are
    filtered out. Oracle = the batch gap-session definition — the
    session_window END is last-event + gap, normalized back to max
    event time so both paths agree row-for-row."""
    import uuid as _uuid

    from duo_spark.streaming.pipeline import _scratch
    from duo_spark.streaming.sessions import streaming_session_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.timestamp_micros(_ts_us()).alias("t")
    )
    hi = ev.agg(F.max("t").alias("m")).first()["m"]
    sentinel = ev.select("user_id").distinct().select(
        F.lit(-1).alias("event_id"),
        "user_id",
        (F.lit(hi) + F.expr("INTERVAL 30 DAYS")).alias("t"),
    )
    run = _scratch("ssess", _uuid.uuid4().hex)
    src = f"{run}/in"
    ev.coalesce(1).write.parquet(src)
    sentinel.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long, t timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sess = streaming_session_stats(stream, "user_id", "t", gap_seconds=3600)
    name = f"ssess_{_uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", f"{run}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(f"SELECT * FROM {name}")
    cutoff = F.lit(hi) + F.expr("INTERVAL 1 DAY")
    return out.filter(F.col("start") < cutoff).select(
        "user_id",
        (F.unix_timestamp("start") * 1_000_000
         + F.date_format("start", "SSSSSS").cast("long") % 1_000_000).alias("start_us"),
        (F.unix_timestamp("end") * 1_000_000
         + F.date_format("end", "SSSSSS").cast("long") % 1_000_000).alias("end_us"),
        "n_events",
    )


SQL_STREAMING_SESSIONIZE = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
m AS (SELECT user_id, t,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                       >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS b
      FROM e),
s AS (SELECT user_id, t,
             CAST(sum(b) OVER (PARTITION BY user_id ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM m)
SELECT user_id, min(t) AS start_us, max(t) AS end_us,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------
# round-11 gates: the nine round-10 runway operators (VERDICT r10 #1),
# the PNG container (#5), and the sentence-dedup composition (#7)
# ---------------------------------------------------------------------


def q_luhn_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn mod-10 card-number validity (operators/text.py luhn_valid,
    pure-Column higher-order aggregate): per doc a deterministic digit
    string of length 12 + doc_id % 9 (so the 20-digit rows exercise
    the length gate) is built from a closed form, dash-grouped every 4
    digits (so the separator strip is exercised), and checked. The
    oracle replays the doubled-alternate digit sum from the closed
    form — it never sees the string the operator folds."""
    from duo_spark.operators.text import luhn_valid

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = (F.col("doc_id") % 9).cast("int") + F.lit(11)  # sequence end: L-1
    digits = F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(0), n),
            lambda i: ((F.col("doc_id") * (i + 3) + i * i * 7) % 10).cast(
                "string"
            ),
        ),
    )
    card = F.regexp_replace(digits, "(....)", "$1-")
    return docs.select(
        "doc_id",
        card.alias("card"),
        luhn_valid(card).alias("luhn_ok"),
        F.length(F.regexp_replace(card, "[^0-9]", "")).alias("n_digits"),
    )


SQL_LUHN_VALID = r"""
WITH d AS (SELECT doc_id, 12 + doc_id % 9 AS L FROM documents),
dig AS (SELECT doc_id, L, unnest(range(0, L)) AS i FROM d),
dv AS (SELECT doc_id, L, i, (doc_id * (i + 3) + i * i * 7) % 10 AS v FROM dig),
agg AS (
  SELECT doc_id, max(L) AS L,
         regexp_replace(string_agg(CAST(v AS VARCHAR), '' ORDER BY i),
                        '(....)', '\1-', 'g') AS card,
         sum(CASE WHEN (L - 1 - i) % 2 = 1
                  THEN CASE WHEN v * 2 > 9 THEN v * 2 - 9 ELSE v * 2 END
                  ELSE v END) AS tot
  FROM dv GROUP BY doc_id)
SELECT doc_id, card,
       (L BETWEEN 12 AND 19) AND (tot % 10 = 0) AS luhn_ok,
       CAST(L AS INT) AS n_digits
FROM agg
"""


#: gate blocklist: terms that actually occur in the synthetic corpus
#: (DEFAULT_BLOCKLIST's casino/viagra never would — an all-zero gate
#: verifies nothing)
BLOCKLIST_GATE_TERMS = ("table", "spark", "slow")


def q_blocklist_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist screening (operators/text.py blocklist_match): one
    tokenize pass, array_intersect-style whole-token hits — distinct
    terms, total hits, boolean flag per document."""
    from duo_spark.operators.text import blocklist_match

    docs = _t(spark, sf_dir, "documents")
    return blocklist_match(docs, terms=BLOCKLIST_GATE_TERMS)


SQL_BLOCKLIST_MATCH = r"""
WITH toks AS (
  SELECT doc_id,
         list_transform(list_filter(string_split_regex(trim(text), '\s+'),
                                    t -> t != ''), t -> lower(t)) AS tk
  FROM documents),
hits AS (
  SELECT doc_id,
         list_filter(tk, t -> list_contains(['table','spark','slow'], t)) AS h
  FROM toks)
SELECT doc_id,
       CAST(len(list_distinct(h)) AS INT) AS n_blocked_terms,
       CAST(len(h) AS INT) AS n_blocked_hits,
       len(h) > 0 AS blocked
FROM hits
"""


def q_tune_lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH (bands, rows) S-curve solver (operators/dedup.py
    tune_lsh_bands, MMDS §3.4): for a grid of (threshold, num_hashes)
    configs, the divisor split minimizing integrated weighted error
    (false negatives 10x — candidates are cheap, misses are fatal).
    Pure driver-side math by design; the oracle re-integrates the
    same 200-point midpoint grid in SQL and re-runs the argmin with
    the same more-bands tie rule."""
    from duo_spark.operators.dedup import tune_lsh_bands

    configs = [(0.5, 64), (0.6, 96), (0.7, 64), (0.8, 128), (0.85, 256), (0.9, 128)]
    rows = [(t, h, *tune_lsh_bands(t, h)) for (t, h) in configs]
    return spark.createDataFrame(
        rows, "threshold double, num_hashes int, bands int, rows_per_band int"
    )


SQL_TUNE_LSH_BANDS = """
WITH cfg(threshold, num_hashes) AS (
  VALUES (0.5, 64), (0.6, 96), (0.7, 64), (0.8, 128), (0.85, 256), (0.9, 128)),
splits AS (
  SELECT threshold, num_hashes, b, num_hashes // b AS r
  FROM cfg, unnest(range(1, num_hashes + 1)) u(b)
  WHERE num_hashes % b = 0),
grid AS (
  SELECT threshold, num_hashes, b, r, (i + 0.5) / 200.0 AS s,
         1.0 - power(1.0 - power((i + 0.5) / 200.0, r), b) AS p
  FROM splits, unnest(range(0, 200)) g(i)),
err AS (
  SELECT threshold, num_hashes, b, r,
         sum(CASE WHEN s < threshold THEN p ELSE 10.0 * (1.0 - p) END) / 200.0 AS e
  FROM grid GROUP BY threshold, num_hashes, b, r),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY threshold, num_hashes
                               ORDER BY e, b DESC) AS rn
  FROM err)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       CAST(num_hashes AS INT) AS num_hashes,
       CAST(b AS INT) AS bands,
       CAST(r AS INT) AS rows_per_band
FROM ranked WHERE rn = 1
"""


def _dotted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministic sentence boundaries: the corpus is
    punctuation-free token soup, so every occurrence of the token
    'table' (a frequent, non-substring vocabulary word) gets a
    terminal dot — replayable verbatim in the oracle, and it yields a
    realistic mix of sentence lengths including repeated short
    boilerplate-ish fragments."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.regexp_replace("text", "table", "table.").alias("text")
    )


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation to rows (operators/text.py
    split_sentences): sentinel after each [.!?]+ run, split + trim +
    drop empties, posexplode with a 0-based survivor index."""
    from duo_spark.operators.text import split_sentences

    return split_sentences(_dotted_docs(spark, sf_dir))


SQL_SPLIT_SENTENCES = r"""
WITH m AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'table', 'table.', 'g'),
                        '([.!?]+)', '\1' || chr(1), 'g') AS mt
  FROM documents),
sp AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(mt, chr(1)), p -> trim(p)),
                     p -> p != '') AS pf
  FROM m)
SELECT doc_id,
       CAST(generate_subscripts(pf, 1) - 1 AS INT) AS sentence_idx,
       unnest(pf) AS sentence
FROM sp
"""


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-sentence corpus dedup + boilerplate drop
    (operators/text.py sentence_dedup, round 11): first occurrence of
    each normalized sentence survives unless its form spans more than
    4 distinct docs. One normalized-sentence-keyed aggregate — no
    global window; the oracle replays it with window functions, which
    is exactly the formulation the operator avoids at scale."""
    from duo_spark.operators.text import sentence_dedup

    return sentence_dedup(_dotted_docs(spark, sf_dir), max_doc_freq=4)


SQL_SENTENCE_DEDUP = r"""
WITH m AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'table', 'table.', 'g'),
                        '([.!?]+)', '\1' || chr(1), 'g') AS mt
  FROM documents),
sp AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(mt, chr(1)), p -> trim(p)),
                     p -> p != '') AS pf
  FROM m),
sent AS (
  SELECT doc_id, generate_subscripts(pf, 1) - 1 AS idx, unnest(pf) AS sentence
  FROM sp),
nrm AS (
  SELECT doc_id, idx, sentence,
         trim(regexp_replace(regexp_replace(lower(sentence), '[.!?]+$', ''),
                             '\s+', ' ', 'g')) AS n
  FROM sent),
fl AS (
  SELECT doc_id, idx, sentence,
         count(DISTINCT doc_id) OVER (PARTITION BY n) AS df,
         row_number() OVER (PARTITION BY n ORDER BY doc_id, idx) AS rn
  FROM nrm),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_sentences,
         CAST(sum(CASE WHEN df <= 4 AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         coalesce(string_agg(CASE WHEN df <= 4 AND rn = 1 THEN sentence END,
                             ' ' ORDER BY idx), '') AS text_dedup
  FROM fl GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(a.n_sentences, 0) AS n_sentences,
       coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.text_dedup, '') AS text_dedup
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def q_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level cleaning (operators/text.py line_filter,
    Raffel 2020 §2.2, round 12): each doc split into sentinel-marked
    sentence-lines (the dotted-corpus boundaries the sentence gates
    pin), lines kept only if >= 3 words, containing a letter, not
    bullet-led, and terminally punctuated; returns the rewritten doc
    plus attrition counts. Pure Column split/filter/join riding the
    scan — no shuffle, no explode."""
    from duo_spark.operators import text

    docs = _dotted_docs(spark, sf_dir)
    marked = docs.select(
        "doc_id",
        F.regexp_replace("text", r"([.!?]+)", "$1").alias("text"),
    )
    return text.line_filter(
        marked,
        sep_pattern="",
        min_words=3,
        drop_no_letter=True,
        drop_bullet=True,
        require_terminal=True,
        join_sep=" ",
    )


SQL_LINE_FILTER = r"""
WITH m AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'table', 'table.', 'g'),
                        '([.!?]+)', '\1' || chr(1), 'g') AS mt
  FROM documents),
l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(mt, chr(1)), p -> trim(p)),
                     p -> p != '') AS lines
  FROM m),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, p ->
             len(list_filter(string_split_regex(p, '\s+'), t -> t != '')) >= 3
             AND regexp_matches(p, '[A-Za-z]')
             AND NOT regexp_matches(p, '^[-*•]')
             AND regexp_matches(p, '[.!?]$')) AS kept
  FROM l)
SELECT doc_id,
       CAST(len(lines) AS INT) AS n_lines,
       CAST(len(kept) AS INT) AS n_kept,
       coalesce(array_to_string(kept, ' '), '') AS text_clean
FROM k
"""


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-mechanism noisy count release (operators/validate.py
    dp_noisy_counts, Ghosh 2009): per-event-type counts with
    two-sided-geometric noise at epsilon 0.5, md5-closed-form
    uniforms so the oracle replays noise bit-exactly (seeded noise is
    REPLAY MODE — a real release draws the seed secret)."""
    from duo_spark.operators.validate import dp_noisy_counts

    ev = _t(spark, sf_dir, "events")
    return dp_noisy_counts(ev, ["event_type"], epsilon=0.5, seed=42)


SQL_DP_NOISY_COUNTS = """
WITH c AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_true FROM events GROUP BY 1),
u AS (
  SELECT event_type, n_true,
    (('0x' || substr(md5(event_type || '|42|g1'), 1, 13))::BIGINT + 0.5)
      / 4503599627370496.0 AS u1,
    (('0x' || substr(md5(event_type || '|42|g2'), 1, 13))::BIGINT + 0.5)
      / 4503599627370496.0 AS u2
  FROM c),
g AS (
  SELECT event_type, n_true,
         CAST(floor(ln(u1) / -0.5) - floor(ln(u2) / -0.5) AS BIGINT) AS noise
  FROM u)
SELECT event_type, n_true, noise,
       greatest(n_true + noise, 0) AS n_noisy
FROM g
"""


def q_token_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon token-distribution divergence between the
    English and non-English halves of the corpus (operators/text.py
    token_js_divergence, Lin 1991): symmetric, finite on one-sided
    vocabulary, one vocab-sized full-outer join."""
    from duo_spark.operators.text import token_js_divergence

    docs = _t(spark, sf_dir, "documents")
    return token_js_divergence(
        docs.filter(F.col("lang") == "en"), docs.filter(F.col("lang") != "en")
    )


SQL_TOKEN_JS_DIVERGENCE = r"""
WITH lf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS fl FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents WHERE lang = 'en')
  WHERE w != '' GROUP BY w),
rf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS fr FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
    FROM documents WHERE lang != 'en')
  WHERE w != '' GROUP BY w),
j AS (
  SELECT coalesce(fl, 0) AS fl, coalesce(fr, 0) AS fr
  FROM lf FULL OUTER JOIN rf USING (w)),
tot AS (
  SELECT sum(fl) AS nl,
         sum(CASE WHEN fl > 0 THEN 1 ELSE 0 END) AS tl,
         sum(fr) AS nr,
         sum(CASE WHEN fr > 0 THEN 1 ELSE 0 END) AS tr,
         count(*) AS tu
  FROM j),
js AS (
  SELECT sum(
    CASE WHEN fl > 0 THEN 0.5 * (fl * 1.0 / nl)
         * (ln(fl * 1.0 / nl) - ln((fl * 1.0 / nl + fr * 1.0 / nr) / 2))
         ELSE 0 END
    + CASE WHEN fr > 0 THEN 0.5 * (fr * 1.0 / nr)
         * (ln(fr * 1.0 / nr) - ln((fl * 1.0 / nl + fr * 1.0 / nr) / 2))
         ELSE 0 END) AS v
  FROM j, tot)
SELECT CAST(nl AS BIGINT) AS n_tokens_left,
       CAST(tl AS BIGINT) AS n_types_left,
       CAST(nr AS BIGINT) AS n_tokens_right,
       CAST(tr AS BIGINT) AS n_types_right,
       CAST(tu AS BIGINT) AS n_types_union,
       round(v, 6) AS js_divergence,
       round(sqrt(greatest(v, 0)), 6) AS js_distance
FROM js, tot
"""


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity report (operators/text.py ngram_diversity,
    Li 2016): per n in (1, 2, 3), total vs distinct word n-grams and
    their ratio — one map-side-combined distinct aggregate per n."""
    from duo_spark.operators.text import ngram_diversity

    return ngram_diversity(_t(spark, sf_dir, "documents"), ns=(1, 2, 3))


SQL_NGRAM_DIVERSITY = r"""
WITH docs AS (
  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT n, unnest(CASE WHEN len(w) >= n
      THEN list_transform(range(1, len(w) - n + 2),
                          i -> array_to_string(list_slice(w, i, i + n - 1), ' '))
      ELSE [array_to_string(w, ' ')] END) AS gram
  FROM docs, unnest([1, 2, 3]) t(n))
SELECT CAST(n AS INT) AS n,
       CAST(count(*) AS BIGINT) AS total_ngrams,
       CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
       round(count(DISTINCT gram) * 1.0 / greatest(count(*), 1), 6)
         AS distinct_ratio
FROM g WHERE gram != '' GROUP BY n
"""


def q_ngram_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL-approximate distinct-n diversity (operators/text.py
    ngram_diversity(approx=True), round 12 — VERDICT r11 #4): the same
    report as ngram_diversity, but the distinct count comes from the
    repo's mergeable HLL register algebra (operators/sketch.py) over
    an md5-hashed gram, so the per-n shuffle is bounded by m=4096
    register rows instead of every distinct gram — exact distinct over
    trillions of 3-grams was the last linear-shuffle heavyweight. The
    register arithmetic is integer + one float divide, so the DuckDB
    oracle replays the estimate bit-exactly."""
    from duo_spark.operators import text

    docs = _docs(spark, sf_dir)
    return text.ngram_diversity(docs, "text", (1, 2, 3), approx=True)


SQL_NGRAM_DIVERSITY_APPROX = r"""
WITH docs AS (
  SELECT string_split_regex(trim(text), '\s+') AS w FROM documents),
g AS (
  SELECT n, unnest(CASE WHEN len(w) >= n
      THEN list_transform(range(1, len(w) - n + 2),
                          i -> array_to_string(list_slice(w, i, i + n - 1), ' '))
      ELSE [array_to_string(w, ' ')] END) AS gram
  FROM docs, unnest([1, 2, 3]) t(n)),
gg AS (SELECT n, gram FROM g WHERE gram != ''),
tot AS (SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams FROM gg GROUP BY n),
hv AS (
  SELECT n, ('0x' || substr(md5(gram), 1, 13))::BIGINT % 2147483647 AS u
  FROM gg),
h1 AS (SELECT n, u * 48271 % 2147483647 AS a FROM hv),
h2 AS (SELECT n, xor(a, a >> 15) * 69621 % 2147483647 AS c FROM h1),
v AS (SELECT n, xor(c, c >> 13) AS h FROM h2),
b AS (
  SELECT n, h % 4096 AS bucket,
         CASE WHEN floor(h / 4096) = 0 THEN 24
              ELSE 24 - length(bin(CAST(floor(h / 4096) AS BIGINT))) END AS rho
  FROM v),
reg AS (SELECT n, bucket, max(rho) AS register FROM b GROUP BY 1, 2),
s AS (
  SELECT n,
         sum(CAST(1 AS BIGINT) << CAST(24 - register AS INT)) AS present_sum,
         count(*) AS n_present
  FROM reg GROUP BY 1),
raw AS (
  SELECT n, 4096 - n_present AS zeros,
         CAST(floor(0.7213 / (1.0 + 1.079 / 4096) * 16777216.0 * 16777216.0
                    / (present_sum + (4096 - n_present) * 16777216))
              AS BIGINT) AS est_raw
  FROM s),
est AS (
  SELECT n,
         CASE WHEN est_raw <= 10240 AND zeros > 0
              THEN CAST(floor(4096.0 * ln(4096.0 / zeros)) AS BIGINT)
              ELSE est_raw END AS distinct_ngrams
  FROM raw)
SELECT CAST(t.n AS INT) AS n, t.total_ngrams, e.distinct_ngrams,
       round(e.distinct_ngrams * 1.0 / greatest(t.total_ngrams, 1), 6)
         AS distinct_ratio
FROM tot t JOIN est e USING (n)
"""


def q_schema_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift report (operators/profile.py schema_diff): the
    documents table vs a next-version view that drops `source`,
    narrows `n_chars` to int, and adds `n_tokens`. Zero Spark jobs —
    pure metadata; the oracle derives the left-side types from
    DuckDB's information_schema over the same parquet (normalized to
    Spark simpleString names), so a generator schema change breaks
    the gate instead of silently passing."""
    from duo_spark.operators.profile import schema_diff

    left = _t(spark, sf_dir, "documents")
    right = (
        left.drop("source")
        .withColumn("n_chars", F.col("n_chars").cast("int"))
        .withColumn("n_tokens", F.lit(0).cast("int"))
    )
    return schema_diff(left, right)


SQL_SCHEMA_DIFF = """
WITH lt AS (
  SELECT column_name AS col,
         CASE data_type
           WHEN 'BIGINT' THEN 'bigint'
           WHEN 'VARCHAR' THEN 'string'
           WHEN 'DOUBLE' THEN 'double'
           WHEN 'INTEGER' THEN 'int'
           ELSE lower(data_type) END AS t
  FROM information_schema.columns WHERE table_name = 'documents')
SELECT 'n_chars' AS "column", 'type_changed' AS change,
       (SELECT t FROM lt WHERE col = 'n_chars') AS left_type,
       'int' AS right_type
UNION ALL
SELECT 'n_tokens', 'added', NULL, 'int'
UNION ALL
SELECT 'source', 'removed', (SELECT t FROM lt WHERE col = 'source'), NULL
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation ladder's attrition funnel
    (pipelines.curate_documents): quality >= 60 -> lang en ->
    blocklist -> exact dedup -> MinHash-LSH near-dedup resolved to
    connected components (cluster representative survives). The
    oracle composes the stage oracles already gated individually
    (SQL_QUALITY_SCORE / SQL_LANG_ID / SQL_BLOCKLIST_MATCH /
    SQL_DEDUP_EXACT / the CLUSTERS_CTE exhaustive-Jaccard closure)
    over the SAME survivor chaining — a stage-order or
    survivor-set bug shifts the counts."""
    from duo_spark import pipelines

    docs = _docs(spark, sf_dir)
    out = pipelines.curate_documents(
        docs, blocklist=("vector", "warez"), near_dup_threshold=0.7
    )
    return out["funnel"]


SQL_CURATION_FUNNEL = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, text,
         string_split_regex(trim(text), '\s+') AS tok,
         length(text) AS nc,
         length(text) - length(regexp_replace(text,
             '[.,;:!?''"()\[\]{}-]', '', 'g')) AS n_punct
  FROM documents),
feats AS (
  SELECT doc_id, text,
         greatest(100
           - CASE WHEN len(tok) < 10 THEN 40 ELSE 0 END
           - CASE WHEN CAST(len(list_filter(tok, t -> list_contains(
                 ['the','a','an','or','and','of','to','in','is','it'],
                 lower(t)))) AS DOUBLE) / greatest(len(tok), 1) < 0.05
             THEN 20 ELSE 0 END
           - CASE WHEN CAST(n_punct AS DOUBLE) / greatest(nc, 1) > 0.2
             THEN 20 ELSE 0 END
           - CASE WHEN CAST(list_sum(list_transform(tok, t -> length(t)))
                 AS DOUBLE) / greatest(len(tok), 1) > 12
             THEN 20 ELSE 0 END, 0) AS q,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['the','and','of','to','a'], t))) AS h_en,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['el','la','de','que','y'], t))) AS h_es,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['der','die','und','das','ist'], t))) AS h_de,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['le','la','et','les','des'], t))) AS h_fr,
         len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
             t -> list_contains(['的','是','了','在','我'], t))) AS h_zh,
         len(list_filter(list_transform(list_filter(tok, t -> t != ''),
                                        t -> lower(t)),
             t -> list_contains(['vector','warez'], t))) AS n_blocked
  FROM base),
flags AS (
  SELECT doc_id, text,
         q >= 60 AS q_ok,
         (CASE WHEN greatest(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'und'
               WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr
                    AND h_en >= h_zh THEN 'en'
               WHEN h_es >= h_de AND h_es >= h_fr AND h_es >= h_zh THEN 'es'
               WHEN h_de >= h_fr AND h_de >= h_zh THEN 'de'
               WHEN h_fr >= h_zh THEN 'fr'
               ELSE 'zh' END) = 'en' AS l_ok,
         n_blocked = 0 AS b_ok
  FROM feats),
s3 AS (SELECT doc_id, text FROM flags WHERE q_ok AND l_ok AND b_ok),
winners AS (
  SELECT min(doc_id) AS doc_id FROM s3
  GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))),
s4 AS (SELECT s3.doc_id, s3.text FROM s3 JOIN winners USING (doc_id)),
sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
      THEN list_transform(range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
      ELSE [array_to_string(w, ' ')] END) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM s4)),
prs AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(a.s || b.s)) >= 0.7),
edges AS (SELECT pa AS src, pb AS dst FROM prs
          UNION SELECT pb, pa FROM prs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
labels AS (
  SELECT src AS node, least(src, min(dst)) AS component
  FROM reach GROUP BY src),
losers AS (SELECT node FROM labels WHERE node != component),
counts AS (
  SELECT (SELECT count(*) FROM documents) AS n0,
         (SELECT count(*) FROM flags WHERE q_ok) AS n1,
         (SELECT count(*) FROM flags WHERE q_ok AND l_ok) AS n2,
         (SELECT count(*) FROM s3) AS n3,
         (SELECT count(*) FROM s4) AS n4,
         (SELECT count(*) FROM s4) - (SELECT count(*) FROM losers) AS n5)
SELECT stage, rows_in, rows_out, rows_in - rows_out AS removed FROM (
  SELECT 1 AS ord, 'quality' AS stage, n0 AS rows_in, n1 AS rows_out FROM counts
  UNION ALL SELECT 2, 'language', n1, n2 FROM counts
  UNION ALL SELECT 3, 'blocklist', n2, n3 FROM counts
  UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM counts
  UNION ALL SELECT 5, 'near_dedup', n4, n5 FROM counts)
ORDER BY ord
"""


def q_curation_funnel_sd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation ladder with the CCNet sentence-dedup stage ON
    (pipelines.curate_documents(sentence_dedup=True), round 12 —
    VERDICT r11 #6): sentence dedup runs FIRST (Wenzek 2020 order),
    rewriting each doc to its deduped text before
    quality/language/blocklist/exact/near-dedup. Runs over the dotted
    corpus (the deterministic sentence boundaries the sentence gates
    pin). The oracle is the composed SQL: the gated sentence_dedup
    replay feeding the gated funnel closure over the rewritten
    text."""
    from duo_spark import pipelines

    docs = _dotted_docs(spark, sf_dir)
    out = pipelines.curate_documents(
        docs,
        blocklist=("vector", "warez"),
        near_dup_threshold=0.7,
        sentence_dedup=True,
    )
    return out["funnel"]


#: sentence-dedup preamble for the composed funnel oracle: the same
#: replay as SQL_SENTENCE_DEDUP (dotted boundaries, window-based
#: first-occurrence + doc-frequency<=3 keep rule), reduced to the
#: surviving (doc_id, rewritten text) table the ladder consumes
_SQL_SD_DOCS = r"""m0 AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(text, 'table', 'table.', 'g'),
                        '([.!?]+)', '\1' || chr(1), 'g') AS mt
  FROM documents),
sp0 AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(mt, chr(1)), p -> trim(p)),
                     p -> p != '') AS pf
  FROM m0),
sent0 AS (
  SELECT doc_id, generate_subscripts(pf, 1) - 1 AS idx, unnest(pf) AS sentence
  FROM sp0),
nrm0 AS (
  SELECT doc_id, idx, sentence,
         trim(regexp_replace(regexp_replace(lower(sentence), '[.!?]+$', ''),
                             '\s+', ' ', 'g')) AS n
  FROM sent0),
fl0 AS (
  SELECT doc_id, idx, sentence,
         count(DISTINCT doc_id) OVER (PARTITION BY n) AS df,
         row_number() OVER (PARTITION BY n ORDER BY doc_id, idx) AS rn
  FROM nrm0),
sdocs AS (
  SELECT doc_id,
         string_agg(CASE WHEN df <= 3 AND rn = 1 THEN sentence END,
                    ' ' ORDER BY idx) AS text
  FROM fl0 GROUP BY doc_id
  HAVING sum(CASE WHEN df <= 3 AND rn = 1 THEN 1 ELSE 0 END) > 0)"""

#: composed from the gated pieces so the two funnels can never drift:
#: SQL_CURATION_FUNNEL's ladder verbatim, re-rooted on the
#: sentence-deduped text, plus the leading stage-0 funnel row
SQL_CURATION_FUNNEL_SD = (
    SQL_CURATION_FUNNEL
    # re-root the ladder's base scan FIRST (before the preamble adds
    # its own legitimate `FROM documents`)
    .replace("  FROM documents)", "  FROM sdocs)", 1)
    .replace(
        "WITH RECURSIVE base AS (",
        "WITH RECURSIVE " + _SQL_SD_DOCS + ",\nbase AS (",
    )
    .replace(
        "  SELECT (SELECT count(*) FROM documents) AS n0,",
        "  SELECT (SELECT count(*) FROM documents) AS npre,\n"
        "         (SELECT count(*) FROM sdocs) AS n0,",
    )
    .replace(
        "  SELECT 1 AS ord, 'quality' AS stage, n0 AS rows_in,"
        " n1 AS rows_out FROM counts",
        "  SELECT 0 AS ord, 'sentence_dedup' AS stage, npre AS rows_in,"
        " n0 AS rows_out FROM counts\n"
        "  UNION ALL SELECT 1, 'quality', n0, n1 FROM counts",
    )
)
assert SQL_CURATION_FUNNEL_SD.count("sdocs") == 3, "SD oracle composition drifted"
assert "'sentence_dedup'" in SQL_CURATION_FUNNEL_SD


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode e2e (operators/multimodal.py decode_png, round
    11; extended round 12 to ALL THREE 8-bit color types): per doc_id
    a genuine PNG — CRC-correct chunks, zlib-deflated scanlines, row y
    filtered with type y % 5 so every RFC 2083 filter path
    (None/Sub/Up/Average/Paeth) runs — is synthesized from closed-form
    pixels, inflated + unfiltered in one mapInPandas pass, and reduced
    to exact per-channel sums. doc_id % 5 picks the container variant:
    0 → grayscale (color type 0, channel broadcast), 1 → truecolor
    (type 2), 2 → palette (type 3, PLTE indirection), 3 → 16-bit
    grayscale (depth 16, 2-byte filter offset, high-byte downsample —
    samples are v*257 so the variant-0 closed form carries over
    exactly), 4 → Adam7-interlaced truecolor (seven independently
    unfiltered passes de-interlaced onto the (dy, dx) grid — same
    closed form as variant 1). The oracle replays the pixel formula —
    including the palette composition — over the (x, y) grid; a
    filter, predictor, broadcast, PLTE, byte-order or pass-geometry
    bug reconstructs different bytes and mismatches."""
    from duo_spark.operators.multimodal import (
        image_stats,
        synth_png,
        synth_png_adam7,
        synth_png_gray,
        synth_png_gray16,
        synth_png_palette,
    )

    def _png(doc_id):
        variants = (synth_png_gray, synth_png, synth_png_palette,
                    synth_png_gray16, synth_png_adam7)
        return doc_id.map(lambda d: variants[int(d) % 5](int(d)))

    png_udf = F.pandas_udf(_png, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", png_udf("media_id").alias("content"))
    st = image_stats(media)
    n = F.col("width") * F.col("height")
    return st.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("sum_r") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b") / n, 6).alias("mean_b"),
    )


SQL_MULTIMODAL_DECODE_PNG = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
         CASE WHEN doc_id % 5 = 4 THEN 1 ELSE doc_id % 5 END AS variant,
         16 + doc_id % 5 AS psize
  FROM documents),
xs AS (SELECT * FROM d, unnest(range(0, w)) u(x)),
xy AS (SELECT xs.*, y FROM xs, unnest(range(0, h)) v(y)),
px AS (
  SELECT doc_id, w, h,
         CASE variant
           WHEN 1 THEN (doc_id * 5 + x * 11 + y * 3) % 256
           WHEN 2 THEN (doc_id * 7 + ((x + y * 3 + doc_id) % psize) * 31) % 256
           ELSE (doc_id * 5 + x * 11 + y * 3) % 256
         END AS r,
         CASE variant
           WHEN 1 THEN (doc_id + x * 13 + y * 7) % 256
           WHEN 2 THEN (doc_id * 11 + ((x + y * 3 + doc_id) % psize) * 17) % 256
           ELSE (doc_id * 5 + x * 11 + y * 3) % 256
         END AS g,
         CASE variant
           WHEN 1 THEN (doc_id * 2 + x + y * 19) % 256
           WHEN 2 THEN (doc_id * 3 + ((x + y * 3 + doc_id) % psize) * 53) % 256
           ELSE (doc_id * 5 + x * 11 + y * 3) % 256
         END AS b
  FROM xy)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       round(sum(r) * 1.0 / (max(w) * max(h)), 6) AS mean_r,
       round(sum(g) * 1.0 / (max(w) * max(h)), 6) AS mean_g,
       round(sum(b) * 1.0 / (max(w) * max(h)), 6) AS mean_b
FROM px GROUP BY doc_id
"""


def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode e2e (operators/multimodal.py
    decode_jpeg, round 12 — VERDICT r11 #3: a real crawl corpus is
    mostly JPEG): per doc_id a genuine ITU-T T.81 baseline JFIF —
    Annex K Huffman tables, flat DQT, interleaved MCUs — is
    synthesized from closed-form DC-only blocks (synth_jpeg),
    entropy-decoded + dequantized + IDCT'd + color-converted in one
    mapInPandas pass, and reduced to exact per-channel sums.
    doc_id % 6 picks the scan shape: 0 → grayscale, 1 → YCbCr 4:4:4,
    2 → YCbCr 4:2:0 with a restart marker (and DC-predictor reset)
    after every MCU, 3 → YCbCr 4:2:2 (the asymmetric horizontal-only
    chroma upsample), 4 → PROGRESSIVE (SOF2) grayscale and 5 →
    progressive YCbCr 4:4:4 (round 12 second pass: DC-first at Al=1,
    per-component AC EOBn scans, DC-refinement — the
    successive-approximation scan script). The oracle replays
    pixel = clamp(floor(colorconvert(128 + dc) + 0.5)) over the
    (x, y) grid; a Huffman, predictor, restart, upsample or color
    bug lands on different sums."""
    from duo_spark.operators.multimodal import (
        image_stats,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    def _jpg(doc_id):
        # doc_id % 6 >= 4 -> progressive container (its internal shape
        # keys off doc_id % 2: gray / 4:4:4); otherwise the baseline
        # container (shape keys off doc_id % 4). The oracle replays
        # exactly this two-level residue mapping.
        return doc_id.map(
            lambda d: synth_jpeg_progressive(int(d))
            if int(d) % 6 >= 4
            else synth_jpeg(int(d))
        )

    jpg_udf = F.pandas_udf(_jpg, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", jpg_udf("media_id").alias("content"))
    st = image_stats(media)
    n = F.col("width") * F.col("height")
    return st.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("sum_r") / n, 6).alias("mean_r"),
        F.round(F.col("sum_g") / n, 6).alias("mean_g"),
        F.round(F.col("sum_b") / n, 6).alias("mean_b"),
    )


SQL_MULTIMODAL_DECODE_JPEG = """
WITH d0 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 6 >= 4 THEN doc_id % 2
              ELSE doc_id % 4 END AS variant
  FROM documents),
d AS (
  SELECT doc_id, variant,
         CASE variant
           WHEN 0 THEN 8 * (2 + doc_id % 3)
           WHEN 2 THEN 16 * (1 + doc_id % 2)
           ELSE 16 END AS w,
         CASE variant
           WHEN 0 THEN 8 * (2 + doc_id % 2)
           ELSE 16 END AS h,
         CASE variant WHEN 1 THEN 8 ELSE 16 END AS cdx,
         CASE variant WHEN 2 THEN 16 ELSE 8 END AS cdy
  FROM d0),
xs AS (SELECT * FROM d, unnest(range(0, w)) u(x)),
xy AS (SELECT xs.*, y FROM xs, unnest(range(0, h)) v(y)),
yc AS (
  SELECT doc_id, variant, w, h, x, y,
         (doc_id * 29 + (x // 8) * 31 + (y // 8) * 37) % 256 AS yv,
         (doc_id * 17 + (x // cdx) * 11 + (y // cdy) * 41) % 256 - 128 AS cb,
         (doc_id * 23 + (x // cdx) * 13 + (y // cdy) * 43) % 256 - 128 AS cr
  FROM xy),
px AS (
  SELECT doc_id, w, h,
         CASE WHEN variant = 0 THEN yv ELSE
           least(255, greatest(0, CAST(floor(yv + 1.402 * cr + 0.5) AS BIGINT)))
         END AS r,
         CASE WHEN variant = 0 THEN yv ELSE
           least(255, greatest(0, CAST(floor(
             yv - 0.344136 * cb - 0.714136 * cr + 0.5) AS BIGINT)))
         END AS g,
         CASE WHEN variant = 0 THEN yv ELSE
           least(255, greatest(0, CAST(floor(yv + 1.772 * cb + 0.5) AS BIGINT)))
         END AS b
  FROM yc)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       round(sum(r) * 1.0 / (max(w) * max(h)), 6) AS mean_r,
       round(sum(g) * 1.0 / (max(w) * max(h)), 6) AS mean_g,
       round(sum(b) * 1.0 / (max(w) * max(h)), 6) AS mean_b
FROM px GROUP BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/selection.py, Xie et al.
    2023): select the 50 documents whose hashed unigram+bigram
    distribution is most English-like (target = the lang='en' slice)
    via Gumbel top-k over log importance weights. Both bag models
    broadcast; scoring is one map-side-combined per-doc sum; the top-k
    is TakeOrderedAndProject. md5 Gumbels are REPLAY MODE — a
    production selection draws the seed secret."""
    from duo_spark.operators.selection import dsir_select

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == "en")
    return dsir_select(docs, target, 50, buckets=256, seed=42)


SQL_DSIR_SELECT = r"""
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(text), '\s+'), t -> t != '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, lang, unnest(t) AS gram FROM tok
  UNION ALL
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
  FROM tok),
b AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(gram), 1, 13))::BIGINT % 256 AS bucket
  FROM grams),
tc AS (SELECT bucket, count(*) AS t_cnt FROM b WHERE lang = 'en' GROUP BY 1),
rc AS (SELECT bucket, count(*) AS r_cnt FROM b GROUP BY 1),
tt AS (SELECT coalesce(sum(t_cnt), 0) AS t_tot FROM tc),
rt AS (SELECT coalesce(sum(r_cnt), 0) AS r_tot FROM rc),
ratio AS (
  SELECT coalesce(tc.bucket, rc.bucket) AS bucket,
         ln((coalesce(t_cnt, 0) + 1.0) / (t_tot + 256))
         - ln((coalesce(r_cnt, 0) + 1.0) / (r_tot + 256)) AS log_ratio
  FROM tc FULL OUTER JOIN rc ON tc.bucket = rc.bucket
  CROSS JOIN tt CROSS JOIN rt),
scored AS (
  SELECT b.doc_id, count(*) AS n_grams, sum(ratio.log_ratio) AS score
  FROM b LEFT JOIN ratio USING (bucket)
  GROUP BY b.doc_id),
alldocs AS (
  SELECT d.doc_id, coalesce(s.n_grams, 0) AS n_grams,
         coalesce(s.score, 0.0) AS score
  FROM documents d LEFT JOIN scored s USING (doc_id)),
keyed AS (
  SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         round(score, 6) AS score,
         round(score - ln(-ln(
           (('0x' || substr(md5(doc_id || '|42|gumbel'), 1, 13))::BIGINT + 0.5)
           / 4503599627370496.0)), 6) AS gumbel_key
  FROM alldocs)
SELECT * FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 50
"""


def q_multimodal_spectrogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FFT over REAL WAV containers (operators/multimodal.py
    spectrum_stats, round 11): per doc_id an integer square-wave tone
    at frequency bin ``k = 1 + doc_id % 100`` (synth_square_wav — no
    trig in synthesis, so the samples are integer-exact in both
    engines) is decoded and transformed with numpy.fft.rfft in one
    mapInPandas pass. The oracle states the closed form — dominant
    bin k, the direct DFT magnitude at k, energy 256·A² — while Spark
    must DERIVE the dominant bin from the actual spectrum; an FFT,
    windowing, or channel-mix bug lands on a different bin and
    hash-mismatches."""
    from duo_spark.operators.multimodal import spectrum_stats, synth_square_wav

    def _wav(doc_id):
        return doc_id.map(lambda d: synth_square_wav(int(d)))

    wav_udf = F.pandas_udf(_wav, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", wav_udf("media_id").alias("content"))
    st = spectrum_stats(media)
    return st.select(
        "media_id",
        "n_samples",
        "dominant_bin",
        F.round(F.col("dominant_mag"), 2).alias("dominant_mag"),
        "energy",
    )


SQL_MULTIMODAL_SPECTROGRAM = """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 100 AS k,
         4000 + (doc_id % 8) * 500 AS amp
  FROM documents),
t AS (SELECT doc_id, k, amp, unnest(range(0, 256)) AS t FROM d),
s AS (
  SELECT doc_id, k, t,
         CASE WHEN (k * t) % 256 < 128 THEN amp ELSE -amp END AS sv
  FROM t),
m AS (
  SELECT doc_id, max(k) AS k,
         sum(sv * cos(2 * pi() * k * t / 256.0)) AS re,
         sum(sv * sin(2 * pi() * k * t / 256.0)) AS im,
         sum(CAST(sv AS BIGINT) * sv) AS energy
  FROM s GROUP BY doc_id)
SELECT doc_id AS media_id,
       CAST(256 AS BIGINT) AS n_samples,
       CAST(k AS INT) AS dominant_bin,
       round(sqrt(re * re + im * im), 2) AS dominant_mag,
       CAST(energy AS BIGINT) AS energy
FROM m
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language slice (operators/text.py
    tokenizer_fertility, Rust et al. 2021): subwords per word and
    chars/bytes per subword from the same bpe_ish segmentation the
    token_count gate pins. One groupBy over exact integer sums."""
    from duo_spark.operators.text import tokenizer_fertility

    return tokenizer_fertility(_t(spark, sf_dir, "documents"))


SQL_TOKENIZER_FERTILITY = r"""
WITH per AS (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '\s+'),
                         t -> t != '')) AS w,
         len(list_filter(string_split_regex(
             regexp_replace(text, '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]+)',
                            '\1' || chr(1), 'g'),
             '[\s' || chr(1) || ']+'), t -> t != '')) AS s,
         length(text) AS c,
         strlen(text) AS b
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(s) AS BIGINT) AS n_subwords,
       round(sum(s) * 1.0 / sum(w), 6) AS fertility,
       round(sum(c) * 1.0 / sum(s), 6) AS chars_per_subword,
       round(sum(b) * 1.0 / sum(s), 6) AS bytes_per_subword
FROM per GROUP BY lang
"""


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (operators/decontam.py
    semantic_decontam, round 11): corpus vectors (vec_id % 20 != 0)
    whose nearest benchmark vector (vec_id % 20 == 0) clears 0.35
    cosine — the paraphrase-leakage sweep n-gram containment misses.
    The benchmark collects into one broadcast matrix (benchmarks are
    small by definition; guarded); scoring is one Arrow matmul per
    corpus batch, no shuffle, no pair materialization."""
    from duo_spark.operators.decontam import semantic_decontam

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    benchmark = emb.filter(F.col("vec_id") % 20 == 0)
    return semantic_decontam(corpus, benchmark, threshold=0.35)


SQL_SEMANTIC_DECONTAM = """
WITH bench AS (
  SELECT vec_id AS bench_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
corp AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
pairs AS (
  SELECT c.vec_id, b.bench_id,
         round(
           list_sum(list_transform(range(1, 65),
               i -> CAST(c.embedding[i] AS DOUBLE) * b.embedding[i]))
           / (sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(b.embedding,
                  x -> CAST(x AS DOUBLE) * x)))), 6) AS sim
  FROM corp c CROSS JOIN bench b),
best AS (
  SELECT vec_id, bench_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, bench_id) AS rn
  FROM pairs)
SELECT vec_id, bench_id, sim FROM best WHERE rn = 1 AND sim >= 0.35
"""


def q_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training-mixture plan (operators/sampling.py
    epoch_allocation, Muennighoff 2023): water-fill a 600-document
    budget across sources with temperature-α=0.5 weights, capping
    every source at 2 epochs of its unique docs. Closed-form λ via
    prefix/suffix window sums over the |sources|-row aggregate — no
    iteration, no driver math."""
    from duo_spark.operators.sampling import epoch_allocation

    docs = _t(spark, sf_dir, "documents")
    return epoch_allocation(docs, "source", None,
                            budget=600, max_epochs=2.0, alpha=0.5)


SQL_EPOCH_ALLOCATION = """
WITH per AS (
  SELECT source AS stratum, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY 1),
base AS (
  SELECT stratum, n, pow(n, 0.5) AS w, n * 2.0 AS cap FROM per),
r AS (
  SELECT *,
         sum(cap) OVER (ORDER BY cap / w, stratum) - cap AS cap_before,
         sum(w) OVER (ORDER BY cap / w, stratum
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS w_from_here
  FROM base),
l AS (
  SELECT *, (600 - cap_before) / w_from_here AS lam_here,
         (600 - cap_before) / w_from_here <= cap / w AS unc
  FROM r),
star AS (
  SELECT lam_here AS lam FROM l WHERE unc
  ORDER BY cap / w, stratum LIMIT 1)
SELECT stratum,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(cap AS BIGINT) AS cap,
       round(CASE WHEN unc THEN least((SELECT lam FROM star) * w, cap)
                  ELSE cap END, 6) AS alloc,
       round(CASE WHEN unc THEN least((SELECT lam FROM star) * w, cap)
                  ELSE cap END / n, 6) AS epochs
FROM l
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash over REAL decoded PNG pixels
    (operators/multimodal.py image_dhash, round 11): per doc_id the
    synth_png container is inflated + unfiltered to pixels, pooled to
    a 5×4 integer-luma grid, and hashed as one brightness-gradient
    bit per adjacent cell pair — all integer arithmetic, so the
    oracle replays the exact bit string from the closed-form pixels
    while Spark derives it from the real zlib/filter decode path."""
    from duo_spark.operators.multimodal import image_dhash, synth_png

    def _png(doc_id):
        return doc_id.map(lambda d: synth_png(int(d)))

    png_udf = F.pandas_udf(_png, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", png_udf("media_id").alias("content"))
    return image_dhash(media, grid_w=5, grid_h=4)


SQL_IMAGE_DHASH = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT doc_id, w, h, x, y,
         (doc_id * 5 + x * 11 + y * 3) % 256
         + (doc_id + x * 13 + y * 7) % 256
         + (doc_id * 2 + x + y * 19) % 256 AS luma
  FROM xy),
cells AS (
  SELECT doc_id, w, h, (y * 4) // h AS i, (x * 5) // w AS j,
         sum(luma) AS s, count(*) AS c
  FROM px GROUP BY 1, 2, 3, 4, 5),
pairs AS (
  SELECT a.doc_id, a.w, a.h, a.i, a.j,
         CASE WHEN a.s * b.c > b.s * a.c THEN '1' ELSE '0' END AS bit
  FROM cells a
  JOIN cells b ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1)
SELECT doc_id AS media_id,
       CAST(max(w) AS INT) AS width,
       CAST(max(h) AS INT) AS height,
       string_agg(bit, '' ORDER BY i, j) AS dhash
FROM pairs GROUP BY doc_id
"""


def q_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded perceptual near-dup pairs (operators/multimodal.py
    dhash_near_dup, round 11): image pairs within Hamming 1 of each
    other's 16-bit dHash. Spark finds candidates by pigeonhole
    banding (2 disjoint 8-bit bands — a ≤1-bit difference must leave
    one band intact, recall 1.0 by construction, no all-pairs); the
    oracle brute-forces every pair, so any banding recall bug
    surfaces as missing rows."""
    from duo_spark.operators.multimodal import (
        dhash_near_dup,
        image_dhash,
        synth_png,
    )

    def _png(doc_id):
        return doc_id.map(lambda d: synth_png(int(d)))

    png_udf = F.pandas_udf(_png, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", png_udf("media_id").alias("content"))
    hashes = image_dhash(media, grid_w=5, grid_h=4)
    return dhash_near_dup(hashes, max_hamming=1, bands=2, bits=16)


SQL_DHASH_NEAR_DUP = """
WITH d AS (
  SELECT doc_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h FROM documents),
xs AS (SELECT doc_id, w, h, unnest(range(0, w)) AS x FROM d),
xy AS (SELECT doc_id, w, h, x, unnest(range(0, h)) AS y FROM xs),
px AS (
  SELECT doc_id, w, h, x, y,
         (doc_id * 5 + x * 11 + y * 3) % 256
         + (doc_id + x * 13 + y * 7) % 256
         + (doc_id * 2 + x + y * 19) % 256 AS luma
  FROM xy),
cells AS (
  SELECT doc_id, (y * 4) // h AS i, (x * 5) // w AS j,
         sum(luma) AS s, count(*) AS c
  FROM px GROUP BY 1, 2, 3),
bits AS (
  SELECT a.doc_id, a.i, a.j,
         CASE WHEN a.s * b.c > b.s * a.c THEN '1' ELSE '0' END AS bit
  FROM cells a
  JOIN cells b ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1),
hashes AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY i, j) AS dhash
  FROM bits GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_filter(range(1, 17),
             i -> substr(a.dhash, i, 1) != substr(b.dhash, i, 1)))
           AS hamming
  FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM pairs WHERE hamming <= 1
"""


def q_audio_envelope_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy-envelope fingerprint (operators/multimodal.py
    audio_envelope_hash, round 11): per doc_id the synth_wav PCM16
    container decodes to its closed-form sample stream, and 16-sample
    window energies Σs² yield one louder-than-next bit per adjacent
    window — all int64 arithmetic, replayed sample-by-sample by the
    oracle. The duplicate-audio pass is groupBy(envhash)."""
    from duo_spark.operators.multimodal import (
        audio_envelope_hash,
        synth_wav,
    )

    def _wav(doc_id):
        return doc_id.map(lambda d: synth_wav(int(d)))

    wav_udf = F.pandas_udf(_wav, "binary")
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("media_id"))
    media = docs.select("media_id", wav_udf("media_id").alias("content"))
    return audio_envelope_hash(media, frame=16)


SQL_AUDIO_ENVELOPE_HASH = """
WITH d AS (SELECT doc_id, 64 + doc_id % 64 AS n FROM documents),
idx AS (SELECT doc_id, n, unnest(range(0, n)) AS i FROM d),
s AS (
  SELECT doc_id, n, i,
         (doc_id * 7919 + i * 104729) % 65536 - 32768 AS sv
  FROM idx),
fr AS (
  SELECT doc_id, i // 16 AS j,
         sum(CAST(sv AS BIGINT) * sv) AS e, count(*) AS c
  FROM s GROUP BY 1, 2),
bits AS (
  SELECT a.doc_id, a.j,
         CASE WHEN a.e * b.c > b.e * a.c THEN '1' ELSE '0' END AS bit
  FROM fr a JOIN fr b ON a.doc_id = b.doc_id AND b.j = a.j + 1),
agg AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY j) AS envhash
  FROM bits GROUP BY doc_id)
SELECT d.doc_id AS media_id,
       CAST((n + 15) // 16 AS INT) AS n_frames,
       coalesce(agg.envhash, '') AS envhash
FROM d LEFT JOIN agg USING (doc_id)
"""


def q_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based nearest-neighbor mining (operators/similarity.py
    margin_mine, Artetxe & Schwenk 2019): pair each label≠0 vector
    with its best label=0 pool vector and keep pairs whose ratio
    margin — cos over the mean of both sides' k=4 neighborhood
    cosines — clears 1.2. Forward pass is a per-batch Arrow matmul
    (no shuffle); backward is the shared two-phase top-k; the oracle
    brute-forces both directions with window functions."""
    from duo_spark.operators.similarity import margin_mine

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") != 0)
    pool = emb.filter(F.col("label") == 0)
    return margin_mine(corpus, pool, k=4, threshold=1.2)


SQL_MARGIN_MINE = """
WITH pool AS (
  SELECT vec_id AS pool_id, embedding FROM embeddings WHERE label = 0),
corp AS (
  SELECT vec_id, embedding FROM embeddings WHERE label <> 0),
sims AS (
  SELECT c.vec_id, p.pool_id,
         CAST(round(
           list_sum(list_transform(range(1, 65),
               i -> CAST(c.embedding[i] AS DOUBLE) * p.embedding[i]))
           / (sqrt(list_sum(list_transform(c.embedding,
                  x -> CAST(x AS DOUBLE) * x)))
            * sqrt(list_sum(list_transform(p.embedding,
                  x -> CAST(x AS DOUBLE) * x)))) * 1000000) AS BIGINT) AS su
  FROM corp c CROSS JOIN pool p),
fwd AS (
  SELECT vec_id, pool_id, su,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY su DESC, pool_id) AS rn
  FROM sims),
fstat AS (
  SELECT vec_id,
         max(CASE WHEN rn = 1 THEN pool_id END) AS pool_id,
         max(CASE WHEN rn = 1 THEN su END) AS cos_u,
         CAST(sum(su) FILTER (rn <= 4) AS BIGINT) AS fwd_sum
  FROM fwd GROUP BY vec_id),
bwdr AS (
  SELECT pool_id, su, vec_id,
         row_number() OVER (PARTITION BY pool_id
                            ORDER BY su DESC, vec_id) AS rn
  FROM sims),
bstat AS (
  SELECT pool_id,
         CAST(sum(su) FILTER (rn <= 4) AS BIGINT) AS bwd_sum,
         CAST(count(*) FILTER (rn <= 4) AS BIGINT) AS bwd_n
  FROM bwdr GROUP BY pool_id),
m AS (
  SELECT f.vec_id, f.pool_id,
         f.cos_u / 1000000.0 AS cos,
         f.fwd_sum
           / (least(4, (SELECT count(*) FROM pool)) * 1000000.0)
           AS fwd_mean,
         b.bwd_sum / (b.bwd_n * 1000000.0) AS bwd_mean
  FROM fstat f JOIN bstat b USING (pool_id))
SELECT vec_id, pool_id, cos, fwd_mean, bwd_mean,
       round(cos / ((fwd_mean + bwd_mean) / 2), 6) AS margin
FROM m
WHERE round(cos / ((fwd_mean + bwd_mean) / 2), 6) >= 1.2
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity split (operators/text.py
    ccnet_buckets, Wenzek 2020): every document bucketed against its
    OWN language slice's bigram-LM score terciles. Thresholds are one
    percentile aggregate per language broadcast back — never an
    ntile window over the corpus."""
    docs = _docs(spark, sf_dir)
    return text.ccnet_buckets(docs, "doc_id", "text", "lang", alpha=0.5)


SQL_CCNET_BUCKETS = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
uni AS (
  SELECT t AS w1, CAST(count(*) AS DOUBLE) AS c1
  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) u(i)
  WHERE len(ts) >= 2),
bi AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM pairs GROUP BY 1, 2),
sc AS (
  SELECT p.doc_id,
         round(avg(ln((u.c1 + 0.5 * v.v) / (b.c2 + 0.5))), 6) AS bigram_lm
  FROM pairs p
  JOIN bi b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v
  GROUP BY p.doc_id),
d2 AS (
  SELECT d.doc_id, d.lang, sc.bigram_lm
  FROM documents d LEFT JOIN sc USING (doc_id)),
th AS (
  SELECT lang,
         round(quantile_cont(bigram_lm, 1.0 / 3), 6) AS t1,
         round(quantile_cont(bigram_lm, 2.0 / 3), 6) AS t2
  FROM d2 WHERE bigram_lm IS NOT NULL GROUP BY lang)
SELECT d2.doc_id, d2.lang, d2.bigram_lm,
       CASE WHEN d2.bigram_lm IS NULL THEN 'unscored'
            WHEN d2.bigram_lm <= th.t1 THEN 'head'
            WHEN d2.bigram_lm <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM d2 LEFT JOIN th ON th.lang IS NOT DISTINCT FROM d2.lang
"""


def q_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain-mixture reweighting (operators/selection.py
    doremi_weights, Xie et al. 2023, round 12): per-source excess
    bigram-LM loss (clipped at 0, reference = corpus mean) drives
    step-averaged multiplicative-weights softmax, blended with
    uniform smoothing — the domains the proxy scorer finds hardest
    get upweighted. One |domains|-row aggregate; the trajectory is
    solved driver-side over that bounded table. The oracle replays
    the full chain: bigram-LM replay -> per-domain means -> the
    10-step softmax average in SQL."""
    from duo_spark.operators.selection import doremi_weights
    from duo_spark.operators.text import bigram_lm_score

    docs = _docs(spark, sf_dir)
    scored = docs.select("doc_id", "source").join(
        bigram_lm_score(docs, "doc_id", "text", 0.5).select(
            "doc_id", "bigram_lm"
        ),
        "doc_id",
        "left",
    )
    return doremi_weights(
        scored, "source", "bigram_lm", eta=1.0, steps=10, smoothing=1e-3
    )


SQL_DOREMI_WEIGHTS = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
  FROM documents),
uni AS (
  SELECT t AS w1, CAST(count(*) AS DOUBLE) AS c1
  FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
pairs AS (
  SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) u(i)
  WHERE len(ts) >= 2),
bi AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c2 FROM pairs GROUP BY 1, 2),
sc AS (
  SELECT p.doc_id,
         round(avg(ln((u.c1 + 0.5 * v.v) / (b.c2 + 0.5))), 6) AS bigram_lm
  FROM pairs p
  JOIN bi b USING (w1, w2) JOIN uni u USING (w1) CROSS JOIN v
  GROUP BY p.doc_id),
d2 AS (
  SELECT d.doc_id, d.source, sc.bigram_lm
  FROM documents d LEFT JOIN sc USING (doc_id)),
per AS (
  SELECT source, count(bigram_lm) AS n_docs, avg(bigram_lm) AS mean_loss
  FROM d2 GROUP BY source),
g AS (SELECT sum(mean_loss * n_docs) / sum(n_docs) AS gmean FROM per),
e AS (
  SELECT source, n_docs, mean_loss,
         greatest(0.0, coalesce(mean_loss - (SELECT gmean FROM g), 0.0))
           AS excess
  FROM per),
kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM e),
tr AS (
  SELECT e.source, t, exp(1.0 * t * e.excess) AS ew
  FROM e, unnest(generate_series(1, 10)) s(t)),
z AS (SELECT t, sum(ew) AS z FROM tr GROUP BY t),
a AS (
  SELECT source, sum(ew / z.z) / 10 AS abar
  FROM tr JOIN z USING (t) GROUP BY source)
SELECT e.source, CAST(e.n_docs AS BIGINT) AS n_docs,
       round(e.mean_loss, 6) AS mean_loss,
       round(e.excess, 6) AS excess,
       round((1 - 0.001) * a.abar + 0.001 / (SELECT k FROM kk), 6) AS weight
FROM e JOIN a ON a.source IS NOT DISTINCT FROM e.source
"""


def q_epoch_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repeat manifest (operators/sampling.py
    epoch_repeats): the epoch_allocation plan materialized —
    floor(epochs) repeats plus one more on an md5-uniform stochastic
    round, so expected totals match the allocation exactly. One
    |sources|-row broadcast join onto the corpus. Seeded uniforms are
    REPLAY MODE."""
    from duo_spark.operators.sampling import epoch_repeats

    docs = _t(spark, sf_dir, "documents")
    return epoch_repeats(docs, "source", None,
                         budget=600, max_epochs=2.0, alpha=0.5, seed=42)


SQL_EPOCH_REPEATS = """
WITH per AS (
  SELECT source AS stratum, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY 1),
base AS (
  SELECT stratum, n, pow(n, 0.5) AS w, n * 2.0 AS cap FROM per),
r AS (
  SELECT *,
         sum(cap) OVER (ORDER BY cap / w, stratum) - cap AS cap_before,
         sum(w) OVER (ORDER BY cap / w, stratum
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
           AS w_from_here
  FROM base),
l AS (
  SELECT *, (600 - cap_before) / w_from_here AS lam_here,
         (600 - cap_before) / w_from_here <= cap / w AS unc
  FROM r),
star AS (
  SELECT lam_here AS lam FROM l WHERE unc
  ORDER BY cap / w, stratum LIMIT 1),
plan AS (
  SELECT stratum,
         round(CASE WHEN unc THEN least((SELECT lam FROM star) * w, cap)
                    ELSE cap END / n, 6) AS epochs
  FROM l)
SELECT d.doc_id, d.source, p.epochs,
       CAST(floor(p.epochs)
            + CASE WHEN (('0x' || substr(md5(d.doc_id || '|42|repeat'),
                                         1, 13))::BIGINT + 0.5)
                        / 4503599627370496.0
                        < p.epochs - floor(p.epochs)
                   THEN 1 ELSE 0 END AS BIGINT) AS repeats
FROM documents d JOIN plan p ON p.stratum IS NOT DISTINCT FROM d.source
"""


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # --- ROUND-14 WINDOW (slots 1-50; OPERATORS.md rotation policy,
    # DEVIATIONS #21; the fixed 4-cohort refresh schedule for rounds
    # 15-18 is DEVIATIONS #22) ---
    # 1-15: the fifteen r9-stale rows (VERDICT r13 #1 — rule-3
    # staleness hits 5 rounds; displaced twice by rules 1-2, they
    # lead this window unconditionally) ---
    "equidepth_hist": (q_equidepth_hist, SQL_EQUIDEPTH_HIST),
    "tfidf_top_terms": (q_tfidf_top_terms, SQL_TFIDF_TOP_TERMS),
    "embedding_centroids": (q_embedding_centroids, SQL_EMBEDDING_CENTROIDS),
    "l_diversity": (q_l_diversity, SQL_L_DIVERSITY),
    "boilerplate_segments": (q_boilerplate_segments, SQL_BOILERPLATE_SEGMENTS),
    "bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "char_entropy": (q_char_entropy, SQL_CHAR_ENTROPY),
    "rolling_features": (q_rolling_features, SQL_ROLLING_FEATURES),
    "events_pivot": (q_events_pivot, SQL_EVENTS_PIVOT),
    "latency_percentiles": (q_latency_percentiles, SQL_LATENCY_PERCENTILES),
    "top_ngrams": (q_top_ngrams, SQL_TOP_NGRAMS),
    "lm_score": (q_lm_score, SQL_LM_SCORE),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "profile_orders": (q_profile_orders, SQL_PROFILE_ORDERS),
    "events_cube": (q_events_cube, SQL_EVENTS_CUBE),
    # 16: image_dhash — changed in r13 (pluggable decoder= seam)
    # without a window slot (VERDICT r13 #4) ---
    "image_dhash": (q_image_dhash, SQL_IMAGE_DHASH),
    # 17: round-14 NEW gate (rule 1): the reference's literal
    # limit-before-aggregate field stats (VERDICT r13 #8,
    # DEVIATIONS #2 pins both semantics now) ---
    "field_stats_ref_quirk": (q_field_stats_ref_quirk, SQL_FIELD_STATS_REF_QUIRK),
    # 18-20: round-14 operator changes (rule 2): decode_avi_mjpeg
    # LIST-rec recursion + single-video-stream enforcement (ADVICE
    # r13), and ngram_diversity's exact-mode empty-level drop ---
    "multimodal_decode_video": (q_multimodal_decode_video, SQL_MULTIMODAL_DECODE_VIDEO),
    "video_frame_dhash": (q_video_frame_dhash, SQL_VIDEO_FRAME_DHASH),
    "ngram_diversity": (q_ngram_diversity, SQL_NGRAM_DIVERSITY),
    # 21-29: rule 2 — every gate routed through the banded-LSH
    # hot-bucket guard, whose chain became a LADDER (adjacent +
    # stride-2 links, eager trigger check + warning log; ADVICE r13
    # medium) ---
    "minhash_lsh": (q_minhash_lsh, SQL_MINHASH_LSH),
    "canonical_docs": (q_canonical_docs, SQL_CANONICAL_DOCS),
    "dedup_clusters": (q_dedup_clusters, SQL_DEDUP_CLUSTERS),
    "leakage_split": (q_leakage_split, SQL_LEAKAGE_SPLIT),
    "ngram_jaccard": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "ngram_jaccard_strong": (q_ngram_jaccard_strong, SQL_NGRAM_JACCARD_STRONG),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "curation_funnel": (q_curation_funnel, SQL_CURATION_FUNNEL),
    "curation_funnel_sd": (q_curation_funnel_sd, SQL_CURATION_FUNNEL_SD),
    # 30-35: rule 2 — every gate through _publish_dir, whose replay
    # path became rename-aside instead of delete-then-rename
    # (ADVICE r13) ---
    "compaction_roundtrip": (q_compaction_roundtrip, SQL_COMPACTION_ROUNDTRIP),
    "streaming_span_merge": (q_streaming_span_merge, SQL_STREAMING_SPAN_MERGE),
    "streaming_span_merge_fast": (q_streaming_span_merge_fast, SQL_SPAN_MERGE),
    "streaming_parquet_sink": (q_streaming_parquet_sink, SQL_STREAMING_PARQUET_SINK),
    "checkpoint_recovery": (q_checkpoint_recovery, SQL_SPAN_MERGE),
    "pipeline_e2e": (q_pipeline_e2e, SQL_PIPELINE_E2E),
    # 36-50: fifteen of the forty-three r10-green rows (rule 3,
    # alphabetical — the deterministic order DEVIATIONS #22 fixes);
    # the twenty-eight that do not fit sit FIRST below the cutoff
    # and are cohort A's head (round 15) ---
    "annotator_kappa": (q_annotator_kappa, SQL_ANNOTATOR_KAPPA),
    "bloom_semijoin": (q_bloom_semijoin, SQL_BLOOM_SEMIJOIN),
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    "bpe_vocab": (q_bpe_vocab, SQL_BPE_VOCAB),
    "cms_sliding": (q_cms_sliding, SQL_CMS_SLIDING),
    "cms_topk": (q_cms_topk, SQL_CMS_TOPK),
    "contamination_report": (q_contamination_report, SQL_CONTAMINATION_REPORT),
    "customer_set_ops": (q_customer_set_ops, SQL_CUSTOMER_SET_OPS),
    "events_latest": (q_events_latest, SQL_EVENTS_LATEST),
    "events_resample": (q_events_resample, SQL_EVENTS_RESAMPLE),
    "events_rollup": (q_events_rollup, SQL_EVENTS_ROLLUP),
    "hard_negatives": (q_hard_negatives, SQL_HARD_NEGATIVES),
    "hard_negatives_lsh": (q_hard_negatives_lsh, SQL_HARD_NEGATIVES_LSH),
    "hll_audience_overlap": (q_hll_audience_overlap, SQL_HLL_AUDIENCE_OVERLAP),
    "hll_distinct": (q_hll_distinct, SQL_HLL_DISTINCT),
    # --- below the driver window: cohort order (DEVIATIONS #22).
    # First the 28 remaining r10 rows + 20 stalest r11 rows
    # (cohort A -> round 15), then cohort B (r16), C (r17), D (r18)
    # in staleness-then-alphabetical order ---
    "hll_rollup": (q_hll_rollup, SQL_HLL_ROLLUP),
    "hll_sliding": (q_hll_sliding, SQL_HLL_SLIDING),
    "k_anonymity": (q_k_anonymity, SQL_K_ANONYMITY),
    "key_skew_profile": (q_key_skew_profile, SQL_KEY_SKEW_PROFILE),
    "label_resolution": (q_label_resolution, SQL_LABEL_RESOLUTION),
    "moments_quantiles": (q_moments_quantiles, SQL_MOMENTS_QUANTILES),
    "nation_revenue": (q_nation_revenue, SQL_NATION_REVENUE),
    "order_quartiles": (q_order_quartiles, SQL_ORDER_QUARTILES),
    "packing_stats": (q_packing_stats, SQL_PACKING_STATS),
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "random_projection": (q_random_projection, SQL_RANDOM_PROJECTION),
    "readability": (q_readability, SQL_READABILITY),
    "salted_join_skew": (q_salted_join_skew, SQL_SALTED_JOIN_SKEW),
    "sample_per_key": (q_sample_per_key, SQL_SAMPLE_PER_KEY),
    "scd2_history": (q_scd2_history, SQL_SCD2_HISTORY),
    "span_merge": (q_span_merge, SQL_SPAN_MERGE),
    "span_overlap": (q_span_overlap, SQL_SPAN_OVERLAP),
    "store_pruned_scan": (q_store_pruned_scan, SQL_STORE_PRUNED_SCAN),
    "streaming_anomaly": (q_streaming_anomaly, SQL_STREAMING_ANOMALY),
    "streaming_hll_rollup": (q_streaming_hll_rollup, SQL_STREAMING_HLL_ROLLUP),
    "streaming_moments_rollup": (q_streaming_moments_rollup, SQL_STREAMING_MOMENTS_ROLLUP),
    "t_closeness": (q_t_closeness, SQL_T_CLOSENESS),
    "timing_codec": (q_timing_codec, SQL_TIMING_CODEC),
    "topk_orders_per_customer": (q_topk_orders_per_customer, SQL_TOPK_ORDERS_PER_CUSTOMER),
    "trace_waterfall": (q_trace_waterfall, SQL_TRACE_WATERFALL),
    "url_dedup": (q_url_dedup, SQL_URL_DEDUP),
    "validate_orders": (q_validate_orders, SQL_VALIDATE_ORDERS),
    "zipf_slope": (q_zipf_slope, SQL_ZIPF_SLOPE),
    "audio_envelope_hash": (q_audio_envelope_hash, SQL_AUDIO_ENVELOPE_HASH),
    "blocklist_match": (q_blocklist_match, SQL_BLOCKLIST_MATCH),
    "chunk_documents": (q_chunk_documents, SQL_CHUNK_DOCUMENTS),
    "column_mi": (q_column_mi, SQL_COLUMN_MI),
    "corpus_mixture": (q_corpus_mixture, SQL_CORPUS_MIXTURE),
    "customers_no_orders": (q_customers_no_orders, SQL_CUSTOMERS_NO_ORDERS),
    "decontam": (q_decontam, SQL_DECONTAM),
    "dp_noisy_counts": (q_dp_noisy_counts, SQL_DP_NOISY_COUNTS),
    "dsir_select": (q_dsir_select, SQL_DSIR_SELECT),
    "epoch_allocation": (q_epoch_allocation, SQL_EPOCH_ALLOCATION),
    "epoch_repeats": (q_epoch_repeats, SQL_EPOCH_REPEATS),
    "events_daily": (q_events_daily, SQL_EVENTS_DAILY),
    "heavy_hitters": (q_heavy_hitters, SQL_HEAVY_HITTERS),
    "in_list": (q_in_list, SQL_IN_LIST),
    "luhn_valid": (q_luhn_valid, SQL_LUHN_VALID),
    "multimodal_decode_image": (q_multimodal_decode_image, SQL_MULTIMODAL_DECODE_IMAGE),
    "multimodal_features": (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    "multimodal_frame_dedup": (q_multimodal_frame_dedup, SQL_MULTIMODAL_FRAME_DEDUP),
    "multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    "multimodal_spectrogram": (q_multimodal_spectrogram, SQL_MULTIMODAL_SPECTROGRAM),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "point_lookup": (q_point_lookup, SQL_POINT_LOOKUP),
    "repetition_ratio": (q_repetition_ratio, SQL_REPETITION_RATIO),
    "schema_diff": (q_schema_diff, SQL_SCHEMA_DIFF),
    "sentence_dedup": (q_sentence_dedup, SQL_SENTENCE_DEDUP),
    "service_concurrency": (q_service_concurrency, SQL_SERVICE_CONCURRENCY),
    "service_pagerank": (q_service_pagerank, SQL_SERVICE_PAGERANK),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "split_sentences": (q_split_sentences, SQL_SPLIT_SENTENCES),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "streaming_dedup": (q_streaming_dedup, SQL_STREAMING_DEDUP),
    "streaming_enrich": (q_streaming_enrich, SQL_STREAMING_ENRICH),
    "streaming_features": (q_streaming_features, SQL_STREAMING_FEATURES),
    "streaming_incr_dedup": (q_streaming_incr_dedup, SQL_STREAMING_INCR_DEDUP),
    "streaming_join": (q_streaming_join, SQL_STREAMING_JOIN),
    "text_stats": (q_text_stats, SQL_TEXT_STATS),
    "token_count": (q_token_count, SQL_TOKEN_COUNT),
    "token_js_divergence": (q_token_js_divergence, SQL_TOKEN_JS_DIVERGENCE),
    "top_revenue_orders": (q_top_revenue_orders, SQL_TOP_REVENUE_ORDERS),
    "tune_lsh_bands": (q_tune_lsh_bands, SQL_TUNE_LSH_BANDS),
    "anomaly_zscore": (q_anomaly_zscore, SQL_ANOMALY_ZSCORE),
    "ccnet_buckets": (q_ccnet_buckets, SQL_CCNET_BUCKETS),
    "collocation_lift": (q_collocation_lift, SQL_COLLOCATION_LIFT),
    "containment_dedup": (q_containment_dedup, SQL_CONTAINMENT_DEDUP),
    "dhash_near_dup": (q_dhash_near_dup, SQL_DHASH_NEAR_DUP),
    "distinct_operations": (q_distinct_operations, SQL_DISTINCT_OPERATIONS),
    "drift_psi": (q_drift_psi, SQL_DRIFT_PSI),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "events_props_rollup": (q_events_props_rollup, SQL_EVENTS_PROPS_ROLLUP),
    "field_stats_level": (q_field_stats_level, SQL_FIELD_STATS_LEVEL),
    "field_stats_trace": (q_field_stats_trace, SQL_FIELD_STATS_TRACE),
    "fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "funnel": (q_funnel, SQL_FUNNEL),
    "funnel_latency": (q_funnel_latency, SQL_FUNNEL_LATENCY),
    "fuzzy_name_pairs": (q_fuzzy_name_pairs, SQL_FUZZY_NAME_PAIRS),
    "ivf_assign": (q_ivf_assign, SQL_IVF_ASSIGN),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "level_codec": (q_level_codec, SQL_LEVEL_CODEC),
    "line_filter": (q_line_filter, SQL_LINE_FILTER),
    "logs_keyword": (q_logs_keyword, SQL_LOGS_KEYWORD),
    "logs_pagination": (q_logs_pagination, SQL_LOGS_PAGINATION),
    "multimodal_decode_audio": (q_multimodal_decode_audio, SQL_MULTIMODAL_DECODE_AUDIO),
    "multimodal_decode_png": (q_multimodal_decode_png, SQL_MULTIMODAL_DECODE_PNG),
    "multimodal_stats": (q_multimodal_stats, SQL_MULTIMODAL_STATS),
    "orders_with_returns": (q_orders_with_returns, SQL_ORDERS_WITH_RETURNS),
    "process_enrich": (q_process_enrich, SQL_PROCESS_ENRICH),
    "quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "service_deps": (q_service_deps, SQL_SERVICE_DEPS),
    "span_log_correlation": (q_span_log_correlation, SQL_SPAN_LOG_CORRELATION),
    "store_retention": (q_store_retention, SQL_STORE_RETENTION),
    "streaming_funnel": (q_streaming_funnel, SQL_FUNNEL),
    "token_shards": (q_token_shards, SQL_TOKEN_SHARDS),
    "tokenizer_fertility": (q_tokenizer_fertility, SQL_TOKENIZER_FERTILITY),
    "topk_batch": (q_topk_batch, SQL_TOPK_BATCH),
    "trace_logs": (q_trace_logs, SQL_TRACE_LOGS),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "union_drift": (q_union_drift, SQL_UNION_DRIFT),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "winnowing": (q_winnowing, SQL_WINNOWING),
    "ann_cosine": (q_ann_cosine, SQL_ANN_COSINE),
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "ann_quantized": (q_ann_quantized, SQL_ANN_QUANTIZED),
    "asof_span_log": (q_asof_span_log, SQL_ASOF_SPAN_LOG),
    "bm25": (q_bm25, SQL_BM25),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "doremi_weights": (q_doremi_weights, SQL_DOREMI_WEIGHTS),
    "gopher_rules": (q_gopher_rules, SQL_GOPHER_RULES),
    "hotcold_search": (q_hotcold_search, SQL_HOTCOLD_SEARCH),
    "hybrid_rrf": (q_hybrid_rrf, SQL_HYBRID_RRF),
    "ivf_search": (q_ivf_search, SQL_IVF_SEARCH),
    "k_core_parts": (q_k_core_parts, SQL_K_CORE_PARTS),
    "kmeans": (q_kmeans, SQL_KMEANS),
    "label_propagation": (q_label_propagation, SQL_LABEL_PROPAGATION),
    "logs_search": (q_logs_search, SQL_LOGS_SEARCH),
    "margin_mine": (q_margin_mine, SQL_MARGIN_MINE),
    "message_extract": (q_message_extract, SQL_MESSAGE_EXTRACT),
    "multimodal_decode_jpeg": (q_multimodal_decode_jpeg, SQL_MULTIMODAL_DECODE_JPEG),
    "ngram_diversity_approx": (q_ngram_diversity_approx, SQL_NGRAM_DIVERSITY_APPROX),
    "object_store_roundtrip": (q_object_store_roundtrip, SQL_OBJECT_STORE_ROUNDTRIP),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "process_registry": (q_process_registry, SQL_PROCESS_REGISTRY),
    "semantic_decontam": (q_semantic_decontam, SQL_SEMANTIC_DECONTAM),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "service_paths": (q_service_paths, SQL_SERVICE_PATHS),
    "simhash": (q_simhash, SQL_SIMHASH),
    "streaming_cms_topk": (q_streaming_cms_topk, SQL_CMS_TOPK),
    "streaming_rollup": (q_streaming_rollup, SQL_STREAMING_ROLLUP),
    "streaming_sessionize": (q_streaming_sessionize, SQL_STREAMING_SESSIONIZE),
    "substring_dedup": (q_substring_dedup, SQL_SUBSTRING_DEDUP),
    "temperature_mixture": (q_temperature_mixture, SQL_TEMPERATURE_MIXTURE),
    "trace_assembly": (q_trace_assembly, SQL_TRACE_ASSEMBLY),
    "zorder_layout": (q_zorder_layout, SQL_ZORDER_LAYOUT),
}

