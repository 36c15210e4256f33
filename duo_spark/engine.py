"""Top-level engine composition — the duo server's main()
(duo/src/main.rs:40-125), Spark-first.

Boots and owns the full stack:

    IngestServer (TCP, S6)            duo/src/grpc/mod.rs:14-27
      -> staged parquet records
    span/log streaming pipelines      duo/src/grpc/server.rs:27-121
      -> foreachBatch span completion (T4, streaming/merge.py)
      -> partitioned parquet sink (T3) or memory tables (T5)
    PartitionedStore + registries     duo/src/memory.rs, schema.rs
    QueryService                      duo/src/web/mod.rs:72-82

Design note (deviation, documented): the reference triple-buffers —
in-memory Arrow batches + 10 s IPC WAL + 60 s parquet flush — and
serves queries from memory ∪ parquet. Here every micro-batch commits
straight to the checkpointed parquet sink: the checkpoint IS the WAL
(exactly-once replay), freshness is the trigger cadence (seconds, not
60 s), and `PartitionedStore.compact()` absorbs the small-file cost
that cadence implies. One durability mechanism instead of three, and
the query path reads one consistent source. ``memory_mode=True``
reproduces T5 exactly: sinks are in-memory tables, nothing persists
(duo/src/main.rs:60-63).

Query path: ``serve_http`` builds a ``QueryService`` per request, but
``spans()``/``logs()`` reuse each persistent table's frame until the
table's store key changes — the span table's listed versions
(``merge.completed_versions``), the log table's file-sink batch names
(``PartitionedStore.sink_log``). A request over an unchanged store
therefore pays a listing, not a schema-inference rebuild; a commit,
a compaction or a replayed batch changes the key and the next request
rebuilds. The trace routes read one more frame, ``traces()``: every
span with its correlated logs, persisted once per (span key, log key)
by the first trace request after a change, so ``/api/traces/:id`` is
a ``trace_id`` filter over it and ``/api/traces`` a ``filter_traces``.
Memory mode has no key: it reads the catalog tables afresh and
correlates per request.

Batch-replay determinism: ``drain()`` runs the pipelines with
availableNow over everything staged so far and waits — the mode the
tests and the correctness gate use; ``start_pipelines()`` runs them
continuously on a processing-time trigger like the real server.
"""

from __future__ import annotations

import os
import posixpath
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from duo_spark.ingest import ProcessRegistry
from duo_spark.operators.materialize import persist_count, release
from duo_spark.operators.traces import correlate_span_logs
from duo_spark.schemas import LOG_CORE_SCHEMA
from duo_spark.sources.logschema import LogSchemaRegistry
from duo_spark.sources.store import HotColdTable, PartitionedStore
from duo_spark.streaming.ingest_server import IngestServer
from duo_spark.streaming.pipeline import (
    _scratch,
    completed_span_schema,
    start_log_pipeline,
    start_span_pipeline,
)
from duo_spark.web.api import QueryService

#: what each table reads as before its first rows land
_EMPTY_SCHEMAS = {"span": completed_span_schema(), "log": LOG_CORE_SCHEMA}


class DuoEngine:
    """One data_dir, one engine — ingest, storage, query."""

    def __init__(
        self,
        spark: SparkSession,
        data_dir: str,
        memory_mode: bool = False,
        granularity: str = "minute",
        trigger_seconds: int = 5,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.memory_mode = memory_mode
        self.trigger_seconds = trigger_seconds
        self.store = PartitionedStore(spark, data_dir, granularity=granularity)
        self.process_registry = ProcessRegistry(self.store)
        self.log_schema_registry = LogSchemaRegistry(self.store)
        run = uuid.uuid4().hex[:8]
        self._mem_spans = f"duo_hot_spans_{run}"
        self._mem_logs = f"duo_hot_logs_{run}"
        self.span_source = posixpath.join(data_dir, "ingest", "span")
        self.log_source = posixpath.join(data_dir, "ingest", "log")
        self._server: IngestServer | None = None
        self._http = None
        self._queries: list = []
        #: table -> (store key, frame) of the last persistent read;
        #: "trace" holds the persisted trace-ready frame (:meth:`traces`)
        self._frames: dict[str, tuple[object, DataFrame]] = {}
        self._frames_lock = threading.Lock()

    # ------------------------------------------------------- ingest --

    def start_ingest(self, host: str = "127.0.0.1", port: int = 0, tick_seconds: float = 1.0):
        """Start the network ingest bridge (S6). Returns (host, port)."""
        if self._server is not None:
            self._server.stop()
        self._server = IngestServer(
            self.span_source,
            self.log_source,
            registry=self.process_registry,
            host=host,
            port=port,
            tick_seconds=tick_seconds,
        ).start()
        return self._server.address

    def _pipeline_kwargs(self, table: str, mem_table: str, available_now: bool) -> dict:
        if self.memory_mode:
            # Spark's memory sink cannot recover a checkpoint, and T5
            # persists nothing anyway: every run replays the full
            # staging dir into a fresh checkpoint, rebuilding the
            # in-memory table from scratch (duo/src/main.rs:60-63).
            ckpt = _scratch("engine-mem-ckpt", uuid.uuid4().hex)
        else:
            ckpt = posixpath.join(self.data_dir, "checkpoints", table)
        kwargs = dict(
            checkpoint_dir=ckpt,
            available_now=available_now,
            trigger_seconds=self.trigger_seconds,
        )
        if self.memory_mode:
            kwargs.update(memory_mode=True, memory_table=mem_table)
        else:
            kwargs.update(out_dir=self.store.table_path(table))
        return kwargs

    def start_pipelines(self) -> None:
        """Continuous micro-batch ingest (the real server's mode)."""
        self._queries = [
            start_span_pipeline(
                self.spark, self.span_source, **self._pipeline_kwargs("span", self._mem_spans, False)
            ),
            start_log_pipeline(
                self.spark, self.log_source, **self._pipeline_kwargs("log", self._mem_logs, False)
            ),
        ]

    def drain(self) -> None:
        """Process everything staged so far and stop (availableNow) —
        deterministic batch replay for tests/gates. Waits out in-flight
        connections, then flushes the ingest buffers so nothing sits
        below the tick."""
        if self._server is not None:
            self._server.quiesce()
            self._server.flush()
        for source, table, mem in (
            (self.span_source, "span", self._mem_spans),
            (self.log_source, "log", self._mem_logs),
        ):
            if not os.path.isdir(source) or not any(
                f.endswith(".parquet") for f in os.listdir(source)
            ):
                continue
            starter = start_span_pipeline if table == "span" else start_log_pipeline
            q = starter(self.spark, source, **self._pipeline_kwargs(table, mem, True))
            q.awaitTermination()

    # -------------------------------------------------------- query --

    def _table_df(self, table: str, mem_table: str) -> DataFrame:
        """The table's current rows. A table with no rows yet reads as
        an empty frame in its schema, so an empty engine is queryable.

        A persistent table's frame is reused until its store key
        changes (:meth:`_store_key`): the rebuild re-lists the files
        and re-infers the schema in Spark jobs, while the key is a
        listing or two. Key check and rebuild share one lock, so
        concurrent requests after a commit rebuild once. Memory mode
        reads the catalog table afresh each call (no job): a base frame
        reused across actions would keep its first plan of the memory
        sink's data."""
        if self.memory_mode:
            if self.spark.catalog.tableExists(mem_table):
                return self.spark.table(mem_table)
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])
        with self._frames_lock:
            return self._current(table)[1]

    def _current(self, table: str) -> tuple[object, DataFrame]:
        """(store key, frame) of a persistent table, rebuilt when the key
        changed. The caller holds ``_frames_lock``."""
        key = self._store_key(table)
        cached = self._frames.get(table)
        if key is not None and cached is not None and cached[0] == key:
            return cached
        df = self._read_table(table)
        if key is None:
            self._frames.pop(table, None)
        else:
            self._frames[table] = (key, df)
        return key, df

    def _store_key(self, table: str):
        """A value that changes whenever a read of ``table`` would see
        other files: the span table's listed versions, the log table's
        file-sink batch names. None (no reuse) for a log table without
        a sink log."""
        from duo_spark.streaming.merge import completed_versions

        if table == "span":
            return completed_versions(self.spark, self.store.table_path("span"))
        return self.store.sink_log(table)

    def _read_table(self, table: str) -> DataFrame:
        from duo_spark.streaming.merge import read_completed

        try:
            if table == "span":
                return read_completed(self.spark, self.store.table_path("span"))
            return HotColdTable(self.store, table).df()
        except FileNotFoundError:
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])

    def spans(self) -> DataFrame:
        return self._table_df("span", self._mem_spans)

    def logs(self) -> DataFrame:
        return self._table_df("log", self._mem_logs)

    def traces(self) -> DataFrame:
        """The trace-ready frame: ``correlate_span_logs(spans(), logs())``,
        one row per span with its log rollup and error flag, which the
        trace routes filter.

        A persistent store keeps one such frame per (span key, log key):
        the first call after either key changes builds it under
        ``_frames_lock`` with :func:`persist_count`, releasing the
        previous one, so the engine owns at most one. ``persist()``
        stores it at Spark's MEMORY_AND_DISK level, so the block manager
        bounds its memory and spills the rest; no size gate applies.
        Without a key (memory mode, or a log table with no sink log) the
        same frame is returned as a plain, unpersisted plan."""
        if self.memory_mode:
            return correlate_span_logs(self.spans(), self.logs())
        with self._frames_lock:
            (span_key, spans), (log_key, logs) = self._current("span"), self._current("log")
            key = None if log_key is None else (span_key, log_key)
            cached = self._frames.get("trace")
            if key is not None and cached is not None and cached[0] == key:
                return cached[1]
            self._release_traces()
            df = correlate_span_logs(spans, logs)
            if key is not None:
                df, _ = persist_count(df)
                self._frames["trace"] = (key, df)
            return df

    def _release_traces(self) -> None:
        """Free the persisted trace frame, if any. The caller holds
        ``_frames_lock``."""
        old = self._frames.pop("trace", None)
        if old is not None:
            release(old[1])

    def query_service(self) -> QueryService:
        """The HTTP-facing facade over the engine's current tables,
        built fresh per call (the process registry stays live); the
        two table frames are reused until the store changes, and the
        trace frame is built only when a trace route asks for it."""
        return QueryService(
            self.spark,
            logs=self.logs(),
            spans=self.spans(),
            processes=self.process_registry.processes(),
            trace_frame=self.traces,
        )

    def serve_http(self, host: str = "127.0.0.1", port: int = 0, request_hook=None):
        """Bind the 8 API routes (duo/src/web/mod.rs:72-82) to a real
        HTTP listener over this engine's live tables. Returns
        (host, port); port 0 picks a free one. ``request_hook(path)``
        wraps each request's dispatch (--collect-self tracing)."""
        from duo_spark.web.server import DuoHTTPServer

        if self._http is not None:
            self._http.stop()
        self._http = DuoHTTPServer(
            lambda: self.query_service(), host=host, port=port,
            request_hook=request_hook,
        ).start()
        return self._http.address

    # ---------------------------------------------------- maintenance --

    def compact(self, retain_latest: int = 2) -> None:
        """Fold small files across both tables' layouts (round 8):
        the span table's completed delta log compacts via
        ``merge.compact_completed`` (a 60 s tick writes ~1,440 tiny
        delta dirs/day; the versioned snapshot fold is crash-safe),
        and the log table's minute partitions fold to hour files via
        ``PartitionedStore.compact``. Memory mode has nothing on disk
        to compact. Safe to run while pipelines are live: both folds
        only touch versions/partitions no in-flight batch can rewrite."""
        if self.memory_mode:
            return
        from duo_spark.streaming.merge import compact_completed

        # no-ops gracefully when nothing has been ingested yet
        compact_completed(
            self.spark,
            self.store.table_path("span"),
            retain_latest=retain_latest,
        )
        if self.store.exists("log"):
            self.store.compact("log", to_granularity="hour")

    # --------------------------------------------------------- stop --

    def stop(self) -> None:
        if self._http is not None:
            self._http.stop()
            self._http = None
        if self._server is not None:
            self._server.stop()
            self._server = None
        for q in self._queries:
            q.stop()
        self._queries = []
        with self._frames_lock:
            self._release_traces()
