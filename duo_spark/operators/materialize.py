"""One owner for materialized intermediates: every eager
materialization in the library is made by :func:`checkpoint` or
:func:`persist_count`, freed by :func:`release` or a :class:`scope`,
overlapped by :func:`together`, and gated by :func:`fits_driver`.

Ownership is exact: a checkpoint's logical plan is a ``LogicalRDD``
over the very RDD holding its blocks, and a persisted frame is its own
cache entry, so a release frees that frame's storage and nothing else,
whatever other jobs run meanwhile.
"""

from __future__ import annotations

import contextvars
from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark.sql import DataFrame

#: live frames owned by the innermost open scope, keyed by ``id()``
#: (None outside any scope)
_OWNED: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "duo_spark_owned", default=None
)

#: fits_driver's size budget per admitted row: 4x headroom over a
#: 16-byte edge
_BYTES_PER_ROW = 64


def _own(df: DataFrame) -> DataFrame:
    owned = _OWNED.get()
    if owned is not None:
        owned[id(df)] = df
    return df


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager=eager)``, owned by the open scope."""
    return _own(df.localCheckpoint(eager=eager))


def persist_count(df: DataFrame) -> tuple[DataFrame, int]:
    """``(df persisted, its row count)``: the count both fills the cache
    and answers the size, in one job. Owned by the open scope."""
    df = _own(df.persist())
    return df, df.count()


def release(*dfs: DataFrame | None) -> None:
    """Non-blocking release of frames made by :func:`checkpoint` or
    :func:`persist_count` (None and released frames are no-ops). A
    checkpoint frees its own RDD's blocks (``DataFrame.unpersist``
    would free nothing); a cached frame drops its cache entry. A
    released frame leaves the open scope, which then holds only live
    frames.

    Reading a released checkpoint RAISES: its lineage was cut, so the
    blocks cannot be recomputed. A released cached frame recomputes."""
    owned = _OWNED.get()
    for df in dfs:
        if df is None:
            continue
        if owned is not None:
            owned.pop(id(df), None)
        plan = df._jdf.queryExecution().logical()
        if plan.nodeName() == "LogicalRDD":
            # SparkContext.unpersistRDD, not RDD.unpersist: the latter
            # logs a "locally checkpointed ... cannot be recomputed"
            # WARN per checkpoint. It leaves the RDD's storage level
            # set, so a released checkpoint is one no longer listed.
            sc = df.sparkSession.sparkContext._jsc.sc()
            rdd_id = plan.rdd().id()
            if sc.getPersistentRDDs().contains(rdd_id):
                sc.unpersistRDD(rdd_id, False)
        else:
            df.unpersist(False)


class scope:
    """Owns every frame :func:`checkpoint`/:func:`persist_count` create
    inside it (on :func:`together` threads too) and releases them on
    exit — the retention answer for a long-lived service::

        with scope():
            minhash_near_duplicates(...).write.parquet(...)

    Materialize results INSIDE the scope: after exit, reading a
    released checkpoint raises. Scopes nest; frames made before entry
    are untouched."""

    def __enter__(self) -> "scope":
        self._owned: dict[int, DataFrame] = {}
        self._token = _OWNED.set(self._owned)
        return self

    def __exit__(self, *exc: Any) -> None:
        _OWNED.reset(self._token)
        release(*self._owned.values())


def together(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent actions concurrently; results in argument order.

    Each driver-synchronized job carries ~50-200 ms of fixed latency,
    and Spark runs several at once. The first thunk runs on the calling
    thread, each other one on its own pool thread, in a copy of the
    caller's context (so its frames join the caller's scope) and with
    the caller's Spark local properties (job group, description). Waits
    for all; raises the first failure in argument order."""
    if len(thunks) < 2:
        return [t() for t in thunks]
    from pyspark import SparkContext

    jsc = SparkContext._active_spark_context._jsc.sc()
    props = jsc.getLocalProperties()

    def run(ctx: contextvars.Context, mine: Any, thunk: Callable[[], Any]) -> Any:
        jsc.setLocalProperties(mine)
        return ctx.run(thunk)

    with ThreadPoolExecutor(max_workers=len(thunks) - 1) as pool:
        futs = [
            pool.submit(run, contextvars.copy_context(), props.clone(), t)
            for t in thunks[1:]
        ]
        first = thunks[0]()
        return [first] + [f.result() for f in futs]


def estimated_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate (file-size sum for scans; plan
    metadata, no job), or None where the JVM plan is unreachable
    (Spark Connect). A frame from a local list reports Long.MaxValue."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def fits_driver(df: DataFrame, max_rows: int):
    """``df`` as a pandas frame if it has at most ``max_rows`` rows, else
    None: the gate for driver-side finishes that replace several
    distributed rounds with one collect. Only an estimate within
    ``_BYTES_PER_ROW * max_rows`` runs the one ``limit(max_rows + 1)``
    probe, so large inputs pay nothing and a mis-estimated one pays one
    bounded pass."""
    est = estimated_bytes(df)
    if est is None or est > _BYTES_PER_ROW * max_rows:
        return None
    pdf = df.limit(max_rows + 1).toPandas()
    return pdf if len(pdf) <= max_rows else None
