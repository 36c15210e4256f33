"""Streaming ingest wiring (SURVEY §2.9 T1-T3/T5, §3.4).

Reference pipeline (duo/src/grpc/server.rs:27-121): gRPC record_span /
record_event -> in-memory buffers -> 1 s aggregation tick -> 10 s
Arrow-IPC WAL -> 60 s minute-partitioned parquet flush; --memory-mode
skips both persistence timers (duo/src/main.rs:60-63).

Spark-first restatement: a file-drop directory stands in for the gRPC
socket (S6 — any streaming source slots in here; the contract is just
"rows in SPAN/LOG schema"), the micro-batch trigger is T1, the
checkpoint's write-ahead state replaces the hand-rolled WAL (T2 —
recovery semantics come from the runtime, not custom code), and both
tables are one foreachBatch write into a versioned delta log (T3,
streaming/merge.py). The span batch first runs the partial-merge span
completion (T4); a log batch is written as it comes. Memory mode (T5)
keeps the same tables under the scratch root and serves temp views.

At scale: the source directory listing shards across executors, the
span merge is one hash aggregate plus one shuffle join against the
open-span table per batch, and each batch of either table lands as
one flat delta version; ``merge.compact_completed`` pays the
date/hour/minute directory fan-out once per fold, into the
partitioned, bloom-filtered snapshot that time-windowed readers prune.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from duo_spark.schemas import LOG_CORE_SCHEMA, SPAN_SCHEMA

#: scratch root for checkpoints / replay staging (kept inside the repo
#: tree; gitignored)
SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")


def _scratch(*parts: str) -> str:
    path = os.path.join(SCRATCH_ROOT, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def prune_scratch(max_age_s: float = 6 * 3600) -> int:
    """Delete scratch subtrees older than ``max_age_s`` (round 8):
    every staged-stream gate query and store test leaves its run dir
    under SCRATCH_ROOT, and across rounds that accumulated 76 GB and
    filled the disk. Age-gated so concurrent runs are never touched;
    returns the number of subtrees removed. Called by bench.py and
    the test session setup — any long-lived entry point."""
    import shutil
    import time

    if not os.path.isdir(SCRATCH_ROOT):
        return 0
    cutoff = time.time() - max_age_s
    removed = 0
    for family in os.listdir(SCRATCH_ROOT):
        fam_dir = os.path.join(SCRATCH_ROOT, family)
        if not os.path.isdir(fam_dir):
            continue
        for run in os.listdir(fam_dir):
            run_dir = os.path.join(fam_dir, run)
            try:
                if os.path.getmtime(run_dir) < cutoff:
                    shutil.rmtree(run_dir, ignore_errors=True)
                    removed += 1
            except OSError:
                continue
    return removed


def span_record_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """S6 stand-in: parquet-file-drop source of raw span records."""
    return spark.readStream.schema(SPAN_SCHEMA).parquet(source_dir)


def staged_log_schema(spark: SparkSession, source_dir: str):
    """The merged schema of the staged log files: LOG_CORE_SCHEMA plus
    every user-field column the ingest bridge has flattened so far
    (ingest_server._normalize_log), types widened across files by
    logschema.merge_schemas.

    This is the reference's startup schema load (duo/src/schema.rs:
    48-76: read the persisted evolved log schema, else the default)
    re-expressed for Structured Streaming, whose source schema is
    fixed at query start: footers are cheap driver-side metadata reads
    (one per staged file, no Spark job), and a field first observed
    AFTER the query starts becomes visible on the next pipeline
    (re)start — the same boundary the reference has across server
    restarts."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    from duo_spark.sources.logschema import merge_schemas

    schema = LOG_CORE_SCHEMA
    if os.path.isdir(source_dir):
        for name in sorted(os.listdir(source_dir)):
            if name.endswith(".parquet"):
                pa_schema = pq.read_schema(os.path.join(source_dir, name))
                schema = merge_schemas(schema, from_arrow_schema(pa_schema))
    return schema


def log_record_stream(
    spark: SparkSession, source_dir: str, schema=None
) -> DataFrame:
    return spark.readStream.schema(schema or LOG_CORE_SCHEMA).parquet(source_dir)


def _start_versioned(
    spark: SparkSession,
    stream: DataFrame,
    make_processor,
    read,
    empty_schema,
    out_dir: str | None,
    checkpoint_dir: str | None,
    trigger_seconds: int,
    memory_mode: bool,
    memory_table: str,
    available_now: bool,
):
    """Start ``stream`` into a versioned delta table through the
    foreachBatch processor ``make_processor(root, ...)``. Memory mode
    keeps the table under the scratch root and serves ``read(spark,
    root)`` as the temp view ``memory_table``, refreshed every batch."""
    if memory_mode:
        root = _scratch("mem-merge", uuid.uuid4().hex)

        def _refresh(_s, _batch_id):
            # register on the OUTER session: foreachBatch hands its
            # processor a cloned session whose temp views the caller
            # never sees
            read(spark, root).createOrReplaceTempView(memory_table)

        # zero-batch runs (empty source) must still resolve the table
        spark.createDataFrame([], empty_schema).createOrReplaceTempView(memory_table)
        processor = make_processor(root, on_batch=_refresh)
    else:
        assert out_dir is not None, "out_dir required unless memory_mode"
        processor = make_processor(out_dir, partition_completed=True)
    writer = stream.writeStream.foreachBatch(processor).option(
        "checkpointLocation", checkpoint_dir or _scratch("ckpt", uuid.uuid4().hex)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_span_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 60,
    memory_mode: bool = False,
    memory_table: str = "hot_spans",
    available_now: bool = False,
):
    """T1+T3+T4(+T5) — the full span ingest job; returns the
    StreamingQuery.

    Span completion is the JVM-side foreachBatch partial-merge
    (streaming/merge.py): completed spans land as an exactly-once
    versioned delta log under ``out_dir`` (``completed/v=N``, each
    version carrying the K1 date/hour/minute columns as data); read
    with ``merge.read_completed``, fold small files with
    ``merge.compact_completed``. Open spans are held until their close
    arrives, as in the reference (duo/src/aggregator.rs:32-39).

    - ``trigger_seconds=60`` mirrors the reference's partition-flush
      cadence (duo/src/grpc/server.rs:92); the 1 s aggregation tick is
      subsumed — completion state updates every micro-batch.
    - ``memory_mode=True`` (T5) serves completed spans from a temp view
      named ``memory_table`` and never touches the data dir
      (duo/src/main.rs:60-63: "Never persist data in memory mode");
      the merge keeps its working state in the gitignored scratch dir
      — the moral equivalent of the reference's in-memory buffers,
      wiped with the session.
    - ``available_now=True`` drains everything currently in the source
      and stops — the deterministic batch-replay mode used by tests
      and the correctness gate.
    """
    from duo_spark.streaming.merge import fast_merge_processor, read_completed

    return _start_versioned(
        spark, span_record_stream(spark, source_dir), fast_merge_processor,
        read_completed, completed_span_schema(), out_dir, checkpoint_dir,
        trigger_seconds, memory_mode, memory_table, available_now,
    )


def completed_span_schema():
    """Schema of completed spans: the partial-merge fields
    (SPAN_SCHEMA scalars) + resolved ``tags`` json string."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("trace_id", T.LongType(), True),
            T.StructField("parent_id", T.LongType(), True),
            T.StructField("name", T.StringType(), True),
            T.StructField("process_id", T.StringType(), True),
            T.StructField("start", T.LongType(), True),
            T.StructField("end", T.LongType(), True),
            T.StructField("tags", T.StringType(), True),
        ]
    )


def start_log_pipeline(
    spark: SparkSession,
    source_dir: str,
    out_dir: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_seconds: int = 60,
    memory_mode: bool = False,
    memory_table: str = "hot_logs",
    available_now: bool = False,
):
    """Log ingest (T1/T3/T5 for the log table); returns the
    StreamingQuery. Each batch is one delta in the span table's layout
    (``merge.log_append_processor``); read the table with
    ``merge.read_completed(dedup=False)``. The source schema is the
    drift-merged one (staged_log_schema), so flattened user-field
    columns flow through. Options as :func:`start_span_pipeline`."""
    from functools import partial

    from duo_spark.streaming.merge import log_append_processor, read_completed

    logs = log_record_stream(spark, source_dir, staged_log_schema(spark, source_dir))
    return _start_versioned(
        spark, logs, log_append_processor, partial(read_completed, dedup=False),
        logs.schema, out_dir, checkpoint_dir, trigger_seconds, memory_mode,
        memory_table, available_now,
    )


def replay_span_records(spark: SparkSession, records: DataFrame) -> DataFrame:
    """Deterministic batch replay THROUGH the real streaming path.

    Stages ``records`` as parquet files, runs the span pipeline in
    memory mode with availableNow, waits for drain, and returns the
    completed spans as a DataFrame. Because the completion merge is
    commutative/associative (min/max/key-wise tag merge), the result
    is independent of how the runtime splits files into micro-batches.
    """
    run_id = uuid.uuid4().hex
    src = _scratch("replay", run_id, "in")
    records.write.mode("overwrite").parquet(src)
    table = f"replay_spans_{run_id[:8]}"
    q = start_span_pipeline(
        spark,
        src,
        memory_mode=True,
        memory_table=table,
        available_now=True,
        checkpoint_dir=_scratch("replay", run_id, "ckpt"),
    )
    q.awaitTermination()
    return spark.table(table)
