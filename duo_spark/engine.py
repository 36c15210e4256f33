"""Top-level engine composition — the duo server's main()
(duo/src/main.rs:40-125), Spark-first.

Boots and owns the full stack:

    IngestServer (TCP, S6)            duo/src/grpc/mod.rs:14-27
      -> staged parquet records
    span/log streaming pipelines      duo/src/grpc/server.rs:27-121
      -> foreachBatch span completion (T4, streaming/merge.py)
      -> versioned delta tables (T3) or scratch + temp views (T5)
    PartitionedStore + registries     duo/src/memory.rs, schema.rs
    QueryService                      duo/src/web/mod.rs:72-82

Design note (deviation, documented): the reference triple-buffers —
in-memory Arrow batches + 10 s IPC WAL + 60 s parquet flush — and
serves queries from memory ∪ parquet. Here every micro-batch of either
table commits straight to one storage layout, a versioned delta log
(``completed/v=N``, published atomically; spans after the completion
merge, logs as they come): the checkpoint IS the WAL (exactly-once
replay: a replayed batch overwrites its own version), freshness is the
trigger cadence (seconds, not 60 s), and ``compact()`` folds old
deltas into minute-partitioned snapshots. One durability mechanism
instead of three, and the query path reads one consistent source.
``memory_mode=True`` reproduces T5: the same tables live under the
scratch root and are served as temp views, nothing persists under
the data dir (duo/src/main.rs:60-63).

Query path: ``serve_http`` builds a ``QueryService`` per request, but
``spans()``/``logs()`` reuse each persistent table's frame until the
table's store key — its listed versions (``merge.completed_versions``)
— changes. A request over an unchanged store therefore pays two
listings, not a schema-inference rebuild; a commit, a compaction or a
replayed batch changes the key and the next request rebuilds. The
trace routes read one more frame, ``traces()``: every span with its
correlated logs, persisted once per (span key, log key) by the first
trace request after a change, so ``/api/traces/:id`` is a
``trace_id`` filter over it and ``/api/traces`` a ``filter_traces``.
Memory mode has no key: it reads the temp views afresh and correlates
per request.

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
from duo_spark.sources.store import PARTITION_COLS, PartitionedStore
from duo_spark.streaming import merge
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
        trigger_seconds: int = 5,
    ):
        self.spark = spark
        self.data_dir = data_dir
        self.memory_mode = memory_mode
        self.trigger_seconds = trigger_seconds
        self.store = PartitionedStore(spark, data_dir)
        self.process_registry = ProcessRegistry(self.store)
        run = uuid.uuid4().hex[:8]
        #: table -> memory-mode temp view name
        self._mem = {"span": f"duo_hot_spans_{run}", "log": f"duo_hot_logs_{run}"}
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

    def _start(self, table: str, source: str, available_now: bool):
        """Start ``table``'s pipeline over ``source``; returns the query."""
        if self.memory_mode:
            # T5 persists nothing: every run replays the full staging
            # dir into a fresh checkpoint, rebuilding the in-memory
            # table from scratch (duo/src/main.rs:60-63)
            ckpt = _scratch("engine-mem-ckpt", uuid.uuid4().hex)
            sink = dict(memory_mode=True, memory_table=self._mem[table])
        else:
            ckpt = posixpath.join(self.data_dir, "checkpoints", table)
            sink = dict(out_dir=self.store.table_path(table))
        starter = start_span_pipeline if table == "span" else start_log_pipeline
        return starter(
            self.spark, source, checkpoint_dir=ckpt, available_now=available_now,
            trigger_seconds=self.trigger_seconds, **sink,
        )

    def start_pipelines(self) -> None:
        """Continuous micro-batch ingest (the real server's mode)."""
        self._queries = [
            self._start("span", self.span_source, False),
            self._start("log", self.log_source, False),
        ]

    def drain(self) -> None:
        """Process everything staged so far and stop (availableNow) —
        deterministic batch replay for tests/gates. Waits out in-flight
        connections, then flushes the ingest buffers so nothing sits
        below the tick."""
        if self._server is not None:
            self._server.quiesce()
            self._server.flush()
        for table, source in (("span", self.span_source), ("log", self.log_source)):
            if not os.path.isdir(source) or not any(
                f.endswith(".parquet") for f in os.listdir(source)
            ):
                continue
            self._start(table, source, True).awaitTermination()

    # -------------------------------------------------------- query --

    def _table_df(self, table: str) -> DataFrame:
        """The table's current rows. A table with no rows yet reads as
        an empty frame in its schema, so an empty engine is queryable.

        A persistent table's frame is reused until its store key
        changes (:meth:`_current`): the rebuild re-lists the files
        and re-infers the schema in Spark jobs, while the key is two
        listings. Key check and rebuild share one lock, so concurrent
        requests after a commit rebuild once. Memory mode reads the
        temp view afresh each call (no job): the pipeline re-points it
        after every batch."""
        if self.memory_mode:
            if self.spark.catalog.tableExists(self._mem[table]):
                return self.spark.table(self._mem[table])
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])
        with self._frames_lock:
            return self._current(table)[1]

    def _current(self, table: str) -> tuple[object, DataFrame]:
        """(store key, frame) of a persistent table, rebuilt when the key
        changed. The key is the table's listed versions
        (``merge.completed_versions``): it changes whenever a read would
        see other files. The caller holds ``_frames_lock``."""
        key = merge.completed_versions(self.spark, self.store.table_path(table))
        cached = self._frames.get(table)
        if cached is not None and cached[0] == key:
            return cached
        self._frames[table] = (key, self._read_table(table))
        return self._frames[table]

    def _read_table(self, table: str) -> DataFrame:
        """A persistent table's rows. Spans dedup first-completion-wins;
        logs keep their own columns, the K1 partition columns their
        versions carry for compaction dropped."""
        path = self.store.table_path(table)
        try:
            if table == "span":
                return merge.read_completed(self.spark, path)
            return merge.read_completed(self.spark, path, dedup=False).drop(*PARTITION_COLS)
        except FileNotFoundError:
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])

    def spans(self) -> DataFrame:
        return self._table_df("span")

    def logs(self) -> DataFrame:
        return self._table_df("log")

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
        Memory mode has no key: the same frame is returned as a plain,
        unpersisted plan."""
        if self.memory_mode:
            return correlate_span_logs(self.spans(), self.logs())
        with self._frames_lock:
            (span_key, spans), (log_key, logs) = self._current("span"), self._current("log")
            key = (span_key, log_key)
            cached = self._frames.get("trace")
            if cached is not None and cached[0] == key:
                return cached[1]
            self._release_traces()
            df, _ = persist_count(correlate_span_logs(spans, logs))
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
        """Fold small files in both tables (round 8): each table's delta
        log folds into a minute-partitioned, bloom-filtered snapshot
        via ``merge.compact_completed`` (a 60 s tick writes ~1,440 tiny
        delta dirs/day per table), keeping the newest ``retain_latest``
        deltas out of it. The fold is crash-safe and deletes only what
        the previous snapshot already superseded, so it is safe while
        pipelines are live or restart after it. A table with nothing
        ingested yet is left as it is; memory mode has nothing on disk
        to compact."""
        if self.memory_mode:
            return
        for table in ("span", "log"):
            merge.compact_completed(
                self.spark,
                self.store.table_path(table),
                retain_latest=retain_latest,
                dedup=table == "span",
            )

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
