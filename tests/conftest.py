from __future__ import annotations

import json
import os
import random

import pytest

from duo_spark.schemas import LOG_CORE_SCHEMA, SPAN_SCHEMA
from duo_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

BASE_US = 1_654_963_200_000_000  # 2022-06-11T16:00:00Z


@pytest.fixture(scope="session")
def spark():
    # reclaim stale staged-stream scratch from prior sessions (76 GB
    # had accumulated and filled the disk by round 8); age-gated, so
    # a concurrently-running bench/driver is never touched
    from duo_spark.streaming.pipeline import prune_scratch

    prune_scratch()
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("duo_spark_tests", **{"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def persistent_ids(spark):
    """Callable: ids of the RDDs currently holding storage (cached
    frames and checkpoints)."""
    jsc = spark.sparkContext._jsc.sc()

    def ids() -> set[int]:
        keys = jsc.getPersistentRDDs().keySet().mkString(",")
        return {int(k) for k in keys.split(",") if k}

    return ids


@pytest.fixture(scope="session")
def jobs_in(spark):
    """Callable: (fn(), the number of Spark jobs it started) — counted
    in a fresh job group."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = uuid.uuid4().hex
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def plan_rdd_ids():
    """Callable: ids of the checkpoint RDDs a frame's logical plan reads
    (its LogicalRDD leaves)."""

    def ids(df) -> set[int]:
        it = df._jdf.queryExecution().logical().collectLeaves().iterator()
        out = set()
        while it.hasNext():
            leaf = it.next()
            if leaf.nodeName() == "LogicalRDD":
                out.add(int(leaf.rdd().id()))
        return out

    return ids


def _gen_spans_logs(n_traces: int = 40, seed: int = 7):
    """Deterministic span/log fixture shaped like the reference's data
    (FIXTURES.md §A): span trees of 1-6 spans, logs attached to spans,
    ~2 services with numbered process ids."""
    rng = random.Random(seed)
    spans, logs = [], []
    next_id = 1
    for t in range(1, n_traces + 1):
        trace_id = 1000 + t
        service = "web" if t % 3 else "worker"
        process_id = f"{service}-{t % 2}"
        root_start = BASE_US + t * 1_000_000
        root_dur = rng.randint(5_000, 2_000_000)
        root_id = next_id
        next_id += 1
        op = rng.choice(["GET /users", "GET /orders", "db.query"])
        spans.append(
            (root_id, None, trace_id, op, process_id, root_start,
             root_start + root_dur, json.dumps({"busy": "1.20ms"}))
        )
        for _ in range(rng.randint(0, 5)):
            cid = next_id
            next_id += 1
            cs = root_start + rng.randint(0, max(root_dur - 1000, 1))
            cd = rng.randint(100, 50_000)
            spans.append(
                (cid, root_id, trace_id, rng.choice(["db.query", "cache.get"]),
                 process_id, cs, cs + cd, None)
            )
            for _ in range(rng.randint(0, 3)):
                lvl = rng.choice(["ERROR", "WARN", "INFO", "DEBUG", "TRACE"])
                logs.append(
                    (process_id, cs + rng.randint(0, cd), trace_id, cid, lvl,
                     "app::db", "src/db.rs", rng.randint(1, 500),
                     f"query took {rng.randint(1, 99)}ms")
                )
        logs.append(
            (process_id, root_start + 10, trace_id, root_id, "INFO",
             "main", "src/main.rs", 42, f"handling request {t}")
        )
    return spans, logs


@pytest.fixture(scope="session")
def spans_df(spark):
    rows, _ = _gen_spans_logs()
    return spark.createDataFrame(rows, SPAN_SCHEMA).cache()


@pytest.fixture(scope="session")
def logs_df(spark):
    _, rows = _gen_spans_logs()
    return spark.createDataFrame(rows, LOG_CORE_SCHEMA).cache()


class FakeGroupState:
    """Shared GroupState stand-in for driving applyInPandasWithState
    update functions without a streaming query (used by test_funnel.py
    and test_funnel_properties.py — ONE fake, so a GroupState interface
    change cannot silently diverge the two)."""

    def __init__(self):
        self._val, self.exists, self.hasTimedOut = None, False, False
        self.wm_ms, self.removed = 0, False
        self.ttl, self.timeout_ts = None, None

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val, self.exists = v, True

    def remove(self):
        self.removed, self.exists, self._val = True, False, None

    def setTimeoutDuration(self, ms):
        self.ttl = ms

    def setTimeoutTimestamp(self, ms):
        self.timeout_ts = ms

    def getCurrentWatermarkMs(self):
        return self.wm_ms
