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

Query path: the routes read one **generation** per store version
(:class:`Generation`), the way the reference answers every route from
in-memory Arrow batches planned over as table leaves. Each table's
frame is checkpointed once per store key — its listed versions
(``merge.completed_versions``) — in one partition when it fits one
file split, so the aggregate routes plan no exchange. The trace-ready
frame (every span with its correlated logs) is checkpointed over those
two by the first trace request, so ``/api/traces/:id`` is a
``trace_id`` filter over it and ``/api/traces`` a ``filter_traces``.
A commit, a compaction or a replayed batch changes a key; the next
request builds the next generation, keeping the frame of a table whose
key did not change. ``serve_http`` builds a ``QueryService`` per
request that leases the current generation for the request's dispatch:
one listing per table, no job on an unchanged store. A superseded
generation is released once no request leases it, and ``stop()``
releases everything. Memory mode has no key: it reads the temp views
afresh and correlates per request.

Batch-replay determinism: ``drain()`` runs the pipelines with
availableNow over everything staged so far and waits — the mode the
tests and the correctness gate use; ``start_pipelines()`` runs them
continuously on a processing-time trigger like the real server.
"""

from __future__ import annotations

import contextvars
import os
import posixpath
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from duo_spark.ingest import ProcessRegistry
from duo_spark.operators.materialize import checkpoint, estimated_bytes, release
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


def _pinned(df: DataFrame) -> DataFrame:
    """``checkpoint(df)`` owned by the engine, never by a caller's open
    ``materialize.scope()``, whose exit would release a frame that later
    requests read."""
    return contextvars.Context().run(checkpoint, df)


class Generation:
    """One store version's frames, checkpointed: the span and log
    tables and, built by the first trace request that asks, the
    trace-ready frame over them. The checkpoints are ``LogicalRDD``
    leaves, so a route plans over in-memory blocks, not over the
    parquet scan and dedup that produced them.

    Read a generation only under a lease (:meth:`DuoEngine.query_service`):
    the engine releases a superseded generation once its last lease
    ends, and reading a released checkpoint raises."""

    def __init__(self, key: tuple, spans: DataFrame, logs: DataFrame):
        #: (span key, log key)
        self.key = key
        self.spans = spans
        self.logs = logs
        self.leases = 0
        self._trace: DataFrame | None = None
        self._trace_lock = threading.Lock()

    def traces(self) -> DataFrame:
        """``correlate_span_logs(spans, logs)``: one row per span with
        its log rollup and error flag, checkpointed by the first call."""
        with self._trace_lock:
            if self._trace is None:
                self._trace = _pinned(correlate_span_logs(self.spans, self.logs))
            return self._trace

    def frames(self) -> list[DataFrame]:
        return [df for df in (self.spans, self.logs, self._trace) if df is not None]


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
        #: the current generation, and every generation still held: the
        #: current one plus superseded ones a request still leases
        self._gen: Generation | None = None
        self._held: list[Generation] = []
        self._gen_lock = threading.Lock()

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
        """The table's current rows, read from the store as a plain
        plan. A table with no rows yet reads as an empty frame in its
        schema, so an empty engine is queryable. Memory mode reads the
        temp view (no job): the pipeline re-points it after every batch.
        The routes read the leased generation instead
        (:meth:`query_service`)."""
        if self.memory_mode:
            if self.spark.catalog.tableExists(self._mem[table]):
                return self.spark.table(self._mem[table])
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])
        return self._read_table(table)

    def _read_table(
        self, table: str, versions: merge.CompletedVersions | None = None
    ) -> DataFrame:
        """A persistent table's rows: ``versions`` (a store key) if
        given, else the versions listed now. Spans dedup
        first-completion-wins; logs keep their own columns, the K1
        partition columns their versions carry for compaction dropped."""
        path = self.store.table_path(table)
        try:
            if table == "span":
                return merge.read_completed(self.spark, path, versions=versions)
            return merge.read_completed(
                self.spark, path, dedup=False, versions=versions
            ).drop(*PARTITION_COLS)
        except FileNotFoundError:
            return self.spark.createDataFrame([], _EMPTY_SCHEMAS[table])

    def spans(self) -> DataFrame:
        return self._table_df("span")

    def logs(self) -> DataFrame:
        return self._table_df("log")

    def _checkpoint_table(self, table: str, versions: merge.CompletedVersions) -> DataFrame:
        """A persistent table's rows at ``versions``, checkpointed. A
        table whose size estimate fits one file split
        (``spark.sql.files.maxPartitionBytes``, the size a scan reads as
        one partition) is held in one partition, so the aggregate routes
        over it plan no exchange; a larger one keeps its partitioning."""
        df = self._read_table(table, versions)
        est = estimated_bytes(df)
        split = self.spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        if est is not None and est <= split:
            df = df.coalesce(1)
        return _pinned(df)

    def _acquire(self) -> Generation:
        """Lease the current generation, first building a new one if
        either table's store key changed. The key is the table's listed
        versions (``merge.completed_versions``, one listing per table):
        it changes whenever a read would see other files. A changed
        table's frame reads exactly the versions its key lists, so a
        version published during the build shows in the next
        generation. A table whose key did not change keeps its
        checkpoint. Listing and build share one lock, so concurrent
        requests after a commit build once."""
        with self._gen_lock:
            key = tuple(
                merge.completed_versions(self.spark, self.store.table_path(t))
                for t in ("span", "log")
            )
            old = self._gen
            if old is None or old.key != key:
                tables = [None, None] if old is None else [old.spans, old.logs]
                made: list[DataFrame] = []
                try:
                    for i, table in enumerate(("span", "log")):
                        if old is None or old.key[i] != key[i]:
                            tables[i] = self._checkpoint_table(table, key[i])
                            made.append(tables[i])
                except BaseException:
                    release(*made)
                    raise
                self._gen = Generation(key, *tables)
                self._held.append(self._gen)
                if old is not None and old.leases == 0:
                    self._drop(old)
            self._gen.leases += 1
            return self._gen

    def _end_lease(self, gen: Generation) -> None:
        with self._gen_lock:
            gen.leases -= 1
            if gen.leases == 0 and gen is not self._gen and gen in self._held:
                self._drop(gen)

    def _drop(self, gen: Generation) -> None:
        """Release a superseded, unleased generation's checkpoints but
        those a held generation shares. The caller holds ``_gen_lock``."""
        self._held.remove(gen)
        live = {id(df) for g in self._held for df in g.frames()}
        release(*(df for df in gen.frames() if id(df) not in live))

    def query_service(self) -> QueryService:
        """The HTTP-facing facade over the engine's current tables,
        built fresh per call (the process registry stays live).

        A persistent store's facade reads a leased :class:`Generation`
        and must be closed (``with engine.query_service() as svc:``):
        its frames stay readable until then, however the store changes
        meanwhile. Memory mode has no key: the facade reads the temp
        views afresh and correlates per trace request."""
        processes = self.process_registry.processes()
        if self.memory_mode:
            return QueryService(
                self.spark, logs=self.logs(), spans=self.spans(), processes=processes,
            )
        gen = self._acquire()
        return QueryService(
            self.spark,
            logs=gen.logs,
            spans=gen.spans,
            processes=processes,
            trace_frame=gen.traces,
            end_lease=lambda: self._end_lease(gen),
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
        with self._gen_lock:
            release(*(df for g in self._held for df in g.frames()))
            self._held, self._gen = [], None
