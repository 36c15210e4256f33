"""The one materialization layer (operators/materialize.py): scope
ownership across together's pool threads, the caller's job group in
those threads, and a guard that no second mechanism creeps back."""

from __future__ import annotations

import pathlib
import re

from duo_spark.operators.materialize import (
    checkpoint, persist_count, release, scope, together,
)


def test_together_jobs_land_in_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("materialize-together", "together thunks")
    try:
        # the first thunk runs on the caller's thread; both counts run
        # on pool threads, so every job in the group came from one
        got = together(
            lambda: None,
            lambda: spark.range(5).count(),
            lambda: spark.range(7).count(),
        )
    finally:
        sc._jsc.sc().clearJobGroup()
    assert got == [None, 5, 7]
    assert len(sc.statusTracker().getJobIdsForGroup("materialize-together")) >= 2


def test_scope_owns_frames_made_on_together_threads(spark, persistent_ids):
    before = persistent_ids()
    with scope():
        (a, n), b = together(
            lambda: persist_count(spark.range(30)),
            lambda: checkpoint(spark.range(40)),
        )
        assert (n, b.count()) == (30, 40)
        created = persistent_ids() - before
        assert len(created) == 2
    assert not (created & persistent_ids())


def test_released_frames_leave_the_scope(spark, persistent_ids):
    """A frame released inside a scope is dropped from it, so exit frees
    only what is still live; a second release is a no-op."""
    before = persistent_ids()
    with scope() as s:
        a, b = checkpoint(spark.range(10)), checkpoint(spark.range(20))
        release(a)
        release(a)
        assert list(s._owned.values()) == [b]
        assert a._jdf.queryExecution().logical().rdd().id() not in persistent_ids()
    assert not (persistent_ids() - before)


def test_bench_runs_free_their_blocks(spark, sf_dir, persistent_ids):
    """bench.py runs each query in its own scope: a trace_waterfall run
    (persisted and checkpointed BFS levels) leaves no block behind, so
    the next run cannot read the last one's cache."""
    import bench
    from duo_spark.queries import QUERIES

    before = persistent_ids()
    bench._run(QUERIES["trace_waterfall"][0], spark, sf_dir)
    assert not (persistent_ids() - before)


def test_one_materialization_layer():
    """localCheckpoint, persist/cache/unpersist, thread pools and the
    optimizer size estimate live only in materialize.py; every other
    module goes through it."""
    root = pathlib.Path(__file__).resolve().parents[1] / "duo_spark"
    banned = re.compile(
        r"localCheckpoint\(|\.persist\(|\.cache\(\)|\.unpersist\(|ThreadPoolExecutor"
        r"|sizeInBytes\(\)"
    )
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        if p != root / "operators" / "materialize.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
