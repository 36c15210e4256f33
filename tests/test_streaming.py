"""Streaming ingest pipeline (SURVEY §2.9 T1-T5): span completion
withholding, late-close emission, open-state GC, batch/streaming
parity, and the persistent span layout."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from duo_spark.operators.spans import merge_span_records
from duo_spark.schemas import SPAN_SCHEMA
from duo_spark.streaming import replay_span_records, start_span_pipeline
from duo_spark.streaming.pipeline import SCRATCH_ROOT, _scratch

BASE = 1_700_000_000_000_000


def _rec(id, parent=None, trace=1, name="op", proc="web-0", start=BASE, end=None, tags=None):
    return (id, parent, trace, name, proc, start, end, tags)


@pytest.fixture()
def scratch():
    return _scratch("test", uuid.uuid4().hex)


def test_replay_withholds_open_spans_and_merges_closed(spark):
    records = [
        # span 1: open then close, tags from both records merge
        _rec(1, start=BASE, tags=json.dumps({"a": "1"})),
        _rec(1, parent=None, start=BASE, end=BASE + 500, tags=json.dumps({"b": "2"})),
        # span 2: open only -> withheld
        _rec(2, parent=1, start=BASE + 10),
        # span 3: single complete record
        _rec(3, parent=1, start=BASE + 20, end=BASE + 90),
    ]
    df = spark.createDataFrame(records, SPAN_SCHEMA)
    rows = {r.id: r for r in replay_span_records(spark, df).collect()}
    assert set(rows) == {1, 3}, "open-without-close must be withheld"
    assert rows[1].end == BASE + 500
    assert json.loads(rows[1].tags) == {"a": "1", "b": "2"}


def test_streaming_matches_batch_merge(spark, sf_dir):
    """The streaming replay and the batch A4 operator must agree on
    the same record set (same merge rules)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(400)
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("trace_id"),
        F.col("l_returnflag").alias("name"),
        F.concat(F.lit("svc-"), F.col("l_linestatus")).alias("process_id"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("start"),
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
    records = opens.unionByName(closes)
    batch = {
        r.id: (r.parent_id, r.trace_id, r.name, r.process_id, r.start, r.end)
        for r in merge_span_records(records).collect()
    }
    stream = {
        r.id: (r.parent_id, r.trace_id, r.name, r.process_id, r.start, r.end)
        for r in replay_span_records(spark, records).collect()
    }
    assert batch == stream
    assert batch, "fixture must produce completed spans"


def test_tag_merge_split_invariant_across_microbatches(spark, scratch):
    """Cross-batch tag conflicts must resolve by the global
    (start, tags) order, not arrival order: the record with the LARGER
    sort key arrives in batch 1, the smaller in batch 2 — the larger
    one must still win the key, exactly as the batch merge decides."""
    src = os.path.join(scratch, "in")
    table = f"tags_{uuid.uuid4().hex[:8]}"
    late_rec = _rec(5, start=BASE + 100, tags=json.dumps({"k": "winner", "only_late": "x"}))
    early_rec = _rec(5, start=BASE, end=BASE + 200, tags=json.dumps({"k": "loser", "only_early": "y"}))
    spark.createDataFrame([late_rec], SPAN_SCHEMA).write.mode("append").parquet(src)
    q = start_span_pipeline(
        spark, src, memory_mode=True, memory_table=table,
        checkpoint_dir=os.path.join(scratch, "ckpt"), trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
        assert spark.table(table).count() == 0
        spark.createDataFrame([early_rec], SPAN_SCHEMA).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table(table).collect()
        assert len(rows) == 1
        got = json.loads(rows[0].tags)
        batch = merge_span_records(
            spark.createDataFrame([late_rec, early_rec], SPAN_SCHEMA)
        ).collect()
        want = json.loads(batch[0].tags)
        assert got == want == {"k": "winner", "only_late": "x", "only_early": "y"}
    finally:
        q.stop()


def test_log_pipeline_passthrough(spark, scratch):
    """Log ingest is stateless: rows flow source->table unchanged, read
    back through the versioned-table reader."""
    from duo_spark.schemas import LOG_CORE_SCHEMA
    from duo_spark.streaming import start_log_pipeline
    from duo_spark.streaming.merge import read_completed

    src = os.path.join(scratch, "in")
    out = os.path.join(scratch, "log")
    rows = [("web-0", BASE, 1, 10, "INFO", "app", "main.rs", 1, "hello"),
            ("web-1", BASE + 1, 1, 11, "ERROR", "app", "db.rs", 9, "boom")]
    spark.createDataFrame(rows, LOG_CORE_SCHEMA).write.mode("append").parquet(src)
    q = start_log_pipeline(
        spark, src, out_dir=out, checkpoint_dir=os.path.join(scratch, "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    back = read_completed(spark, out, dedup=False)
    assert {(r.process_id, r.level, r.message) for r in back.collect()} == {
        ("web-0", "INFO", "hello"), ("web-1", "ERROR", "boom"),
    }


def test_streaming_sessions_match_batch(spark, scratch):
    """Streaming session_window sessions must equal the batch
    sessionization (operators/sessions.py) on the same records, even
    when one session's events arrive across different micro-batches
    (state-store session merge)."""
    import datetime as dt

    from duo_spark.operators.sessions import session_stats
    from duo_spark.streaming.sessions import streaming_session_stats

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    # key 1: one session split across the two source files; a 10 s gap
    # then a second session. key 2: a lone event.
    file1 = [(1, t(0)), (1, t(4)), (2, t(30))]
    file2 = [(1, t(8)), (1, t(30)), (1, t(35))]
    schema = "k long, ts timestamp"
    src = os.path.join(scratch, "in")
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    sess = streaming_session_stats(stream, "k", "ts", gap_seconds=10)
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = (
        sess.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.k, r.start): (r.end, r.n_events)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    batch = spark.createDataFrame(file1 + file2, schema).select(
        "k", F.unix_timestamp("ts").alias("t")
    )
    want = {}
    for r in session_stats(batch, "k", "t", 10).collect():
        start = dt.datetime.utcfromtimestamp(r.start)
        end = dt.datetime.utcfromtimestamp(r.end)  # both sides: max event time
        want[(r.k, start)] = (end, r.n_events)
    assert got == want


def test_streaming_dedup_drops_cross_batch_duplicates(spark, scratch):
    """Streaming exact dedup: a duplicate arriving in a LATER
    micro-batch (within the watermark horizon) is dropped; first
    arrival wins; distinct contents all survive."""
    import datetime as dt

    from duo_spark.streaming.dedup import streaming_dedup_exact

    def t(s):
        return dt.datetime(2024, 1, 1, 0, 0, s)

    schema = "doc_id long, ts timestamp, text string"
    file1 = [(1, t(0), "the quick brown fox"), (2, t(1), "unique one")]
    file2 = [(3, t(2), "The  quick brown FOX"),  # normalized duplicate of 1
             (4, t(3), "unique two")]
    src = os.path.join(scratch, "in")
    spark.createDataFrame(file1, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(file2, schema).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
    )
    deduped = streaming_dedup_exact(stream, "text", "ts", watermark="1 hour")
    name = f"dd_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(scratch, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.doc_id for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert got == {1, 2, 4}


def test_streaming_hopping_features_cover_trailing_batch(spark, tmp_path):
    """Each event's batch trailing-72h aggregate must be bounded by its
    best hopping window (hopping is the streaming approximation; the
    window containing the event that starts latest covers at most the
    trailing window), and exact totals agree: sum over events == sum
    over slide-disjoint contributions (each event in exactly 3
    hopping windows)."""
    from duo_spark.streaming.features import streaming_hopping_features

    rows = [
        (i, 1, f"2024-01-0{1 + i % 5} 0{i % 9}:00:00", 100 + i) for i in range(20)
    ]
    src = str(tmp_path / "in")
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, cents long"
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "cents")
    df.coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts timestamp, cents long")
        .parquet(src)
    )
    feats = streaming_hopping_features(stream, "user_id", "ts", "cents")
    name = "sfeat_unit"
    q = (
        feats.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql(f"SELECT * FROM {name}").collect()
    # every event in exactly window/slide=3 windows -> triple counting
    assert sum(r.n_win for r in out) == 3 * 20
    assert sum(r.sum_win for r in out) == 3 * sum(100 + i for i in range(20))
    # epoch-aligned starts at 24h multiples
    for r in out:
        assert int(r.w_start.timestamp()) % 86400 == 0


# ---------------------------------------------------------------------
# stream-stream join (streaming/joins.py)
# ---------------------------------------------------------------------

def test_streaming_join_pairs_across_batches(spark, tmp_path):
    """A span arriving in micro-batch 1 must pair with its log arriving
    in micro-batch 2 (state buffering), range bound enforced, out-of-
    range logs dropped, colliding log columns suffixed _log."""
    from duo_spark.streaming.joins import streaming_span_log_join

    base = "2024-01-01 00:00:00"
    spans_rows = [(1, 100, base), (2, 200, "2024-01-01 02:00:00")]
    logs_rows = [
        (1, "in-range", "2024-01-01 00:30:00"),   # batch 2, joins span batch 1
        (1, "too-late", "2024-01-05 00:00:00"),   # outside 1-hour window
        (3, "no-span", "2024-01-01 00:10:00"),    # no matching span
        (2, "same-batch", "2024-01-01 02:30:00"),
    ]
    sdir, ldir = str(tmp_path / "spans"), str(tmp_path / "logs")
    spark.createDataFrame(spans_rows, "trace_id long, id long, start_ts string") \
        .withColumn("start_ts", F.col("start_ts").cast("timestamp")) \
        .coalesce(1).write.parquet(sdir)
    ldf = spark.createDataFrame(logs_rows, "trace_id long, msg string, time_ts string") \
        .withColumn("time_ts", F.col("time_ts").cast("timestamp"))
    # two file drops: first only the trace-2 log, then the rest
    ldf.filter(F.col("trace_id") == 2).coalesce(1).write.parquet(ldir)
    ldf.filter(F.col("trace_id") != 2).coalesce(1).write.mode("append").parquet(ldir)

    spans = (spark.readStream.schema("trace_id long, id long, start_ts timestamp")
             .option("maxFilesPerTrigger", "1").parquet(sdir))
    logs = (spark.readStream.schema("trace_id long, msg string, time_ts timestamp")
            .option("maxFilesPerTrigger", "1").parquet(ldir))
    out = streaming_span_log_join(spans, logs, window="1 hour", watermark="10 minutes")

    name = "sjoin_unit"
    q = (out.writeStream.format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    got = sorted((r.trace_id, r.id, r.msg) for r in rows)
    assert got == [(1, 100, "in-range"), (2, 200, "same-batch")]


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path, docs_small=None):
    """3-batch replay of a corpus through the foreachBatch incremental
    LSH pipeline must yield EXACTLY the one-shot batch pair set —
    each pair found once, in the batch of its later member."""
    from duo_spark.operators import dedup as ddp
    from duo_spark.streaming.dedup import streaming_incremental_near_dup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text")
    src = str(tmp_path / "in")
    for k in (0, 1, 2):  # three uneven file drops
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = streaming_incremental_near_dup(
        stream, "doc_id", "text",
        index_dir=str(tmp_path / "idx"), pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.5)
    q.awaitTermination()
    got = {(r.id_a, r.id_b): round(r.jaccard, 6)
           for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    want = {(r.id_a, r.id_b): round(r.jaccard, 6)
            for r in ddp.minhash_near_duplicates(
                docs, "doc_id", "text", threshold=0.5).collect()}
    assert got == want and len(got) > 0


def test_streaming_incremental_dedup_releases_batch_blocks(
    spark, tmp_path, sf_dir, persistent_ids
):
    """Each micro-batch runs in its own scope: after N batches no RDD
    persisted during the stream is still held, and the empty-index
    schema probe is planned lazily (0 Spark jobs)."""
    from duo_spark.streaming.dedup import _empty_index, streaming_incremental_near_dup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmp_path / "in")
    for k in (0, 1, 2):
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1) \
            .write.mode("append").parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    before = persistent_ids()
    q = streaming_incremental_near_dup(
        stream, "doc_id", "text",
        index_dir=str(tmp_path / "idx"), pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"), threshold=0.5)
    q.awaitTermination()
    assert sum(p["numInputRows"] > 0 for p in q.recentProgress) == 3
    assert persistent_ids() - before == set()
    assert spark.read.parquet(str(tmp_path / "pairs")).count() > 0

    sc = spark.sparkContext
    sc.setJobGroup("empty-index-probe", "schema probe")
    try:
        bands_df, sets_df = _empty_index(docs, "doc_id", "text", 64, 16, 3)
        names = (bands_df.schema.fieldNames(), sets_df.schema.fieldNames())
    finally:
        sc._jsc.sc().clearJobGroup()
    assert names == (["_id", "_n", "band", "bucket"], ["_id", "_hs"])
    assert list(sc.statusTracker().getJobIdsForGroup("empty-index-probe")) == []


def test_streaming_enrich_static_rebroadcast(spark, tmp_path):
    """Stream-static left join: every batch sees the dimension;
    unmatched stream rows keep NULLs; plan never shuffles the stream."""
    from duo_spark.streaming.joins import streaming_enrich_static

    dim = spark.createDataFrame([(1, "gold"), (2, "silver")], "k long, tier string")
    rows = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 9)], "event long, k long")
    src = str(tmp_path / "in")
    rows.filter(F.col("event") != 12).coalesce(1).write.parquet(src)
    rows.filter(F.col("event") == 12).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("event long, k long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = streaming_enrich_static(stream, dim, on="k", how="left")
    q = (out.writeStream.format("memory").queryName("senr_unit")
         .outputMode("append").option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.event, r.tier) for r in spark.sql("SELECT * FROM senr_unit").collect()}
    assert got == {(10, "gold"), (11, "silver"), (12, None)}


def test_streaming_incremental_dedup_replay_idempotent(spark, tmp_path):
    """Crash-replay safety: re-processing the SAME batches against an
    index that already contains their rows (checkpoint lost after the
    index append — the replay scenario) must reproduce the identical
    pair set. Before round 5's batch<batch_id index filter, the replay
    re-probed its own band rows and double-emitted every batch-internal
    pair."""
    from duo_spark.streaming.dedup import streaming_incremental_near_dup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text")
    src = str(tmp_path / "in")
    for k in (0, 1):
        docs.filter(F.col("doc_id") % 2 == k).coalesce(1) \
            .write.mode("append").parquet(src)

    def run(ckpt):
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = streaming_incremental_near_dup(
            stream, "doc_id", "text",
            index_dir=str(tmp_path / "idx"), pairs_dir=str(tmp_path / "pairs"),
            checkpoint_dir=str(tmp_path / ckpt), threshold=0.5)
        q.awaitTermination()
        return sorted(
            (r.id_a, r.id_b)
            for r in spark.read.parquet(str(tmp_path / "pairs")).collect())

    first = run("ckpt1")
    # fresh checkpoint, same index/pairs dirs: batch ids restart at 0,
    # replaying both batches against the already-appended index
    second = run("ckpt2")
    assert len(first) == len(set(first))          # no duplicate pairs
    assert second == first                        # replay reproduces exactly


def test_streaming_rollup_equals_batch_and_replays(spark, tmp_path):
    """The versioned rollup equals the one-shot batch GROUP BY after a
    multi-batch drain, and a full replay with a fresh checkpoint (the
    crash-recovery scenario: versions already on disk) converges to
    the same table instead of double-counting."""
    from duo_spark.streaming.rollup import read_rollup, streaming_rollup

    rows = [(i, f"t{i % 3}", 10 + i, i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, k string, ts long, v long")
    src = str(tmp_path / "in")
    for m in (0, 1, 2):
        df.filter(F.col("event_id") % 3 == m).coalesce(1) \
            .write.mode("append").parquet(src)

    def run(ckpt):
        stream = (spark.readStream.schema("event_id long, k string, ts long, v long")
                  .option("maxFilesPerTrigger", "1").parquet(src))
        q = streaming_rollup(
            stream, ["k"],
            {"n": ("count", "event_id"), "sv": ("sum", "v"),
             "lo": ("min", "ts"), "hi": ("max", "ts")},
            out_dir=str(tmp_path / "roll"), checkpoint_dir=str(tmp_path / ckpt))
        q.awaitTermination()
        return {r.k: (r.n, r.sv, r.lo, r.hi)
                for r in read_rollup(spark, str(tmp_path / "roll")).collect()}

    want = {r.k: (r.n, r.sv, r.lo, r.hi) for r in
            df.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"),
                F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()}
    assert run("ck1") == want
    assert run("ck2") == want      # full replay over existing versions

    import pytest
    with pytest.raises(ValueError, match="unsupported"):
        streaming_rollup(df, ["k"], {"bad": ("avg", "v")}, "x", "y")


def test_streaming_rollup_null_sum_schedule_independent(spark, tmp_path):
    """Regression: an all-NULL sum column must stay NULL after any
    number of merge rounds (the coalesce-to-0 merge made the result
    depend on the batch schedule)."""
    from duo_spark.streaming.rollup import read_rollup, streaming_rollup

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "b", 7)],
        "event_id long, k string, v long")
    src = str(tmp_path / "in")
    df.filter("event_id = 1").coalesce(1).write.mode("append").parquet(src)
    df.filter("event_id >= 2").coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema("event_id long, k string, v long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = streaming_rollup(
        stream, ["k"], {"sv": ("sum", "v")},
        out_dir=str(tmp_path / "roll"), checkpoint_dir=str(tmp_path / "ck"))
    q.awaitTermination()
    got = {r.k: r.sv for r in read_rollup(spark, str(tmp_path / "roll")).collect()}
    assert got == {"a": None, "b": 7}


# ---------------------------------------------------------------------
# round 7: T4-fast — JVM-side foreachBatch span completion
# ---------------------------------------------------------------------

def _fast_records(spark, sf_dir, n=400):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(n)
    base = li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("id"),
        F.col("l_orderkey").alias("trace_id"),
        F.col("l_returnflag").alias("name"),
        F.concat(F.lit("svc-"), F.col("l_linestatus")).alias("process_id"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("start"),
        F.col("l_linenumber"),
        F.col("l_quantity"),
    )
    opens = base.select(
        "id", (F.col("id") - F.col("l_linenumber")).alias("parent_id"), "trace_id",
        "name", "process_id", "start", F.lit(None).cast("long").alias("end"),
        F.to_json(F.struct(F.col("l_linenumber").cast("string").alias("line"))).alias("tags"),
    )
    closes = base.filter(F.col("l_linenumber") <= 4).select(
        "id", F.lit(None).cast("long").alias("parent_id"), "trace_id", "name",
        "process_id", "start",
        (F.col("start") + F.round(F.col("l_quantity") * 1_000_000).cast("long")).alias("end"),
        F.to_json(F.struct(F.lit("yes").alias("closed"))).alias("tags"),
    )
    return opens.unionByName(closes)


@pytest.mark.parametrize("split", ["half", "open_close", "reversed"])
def test_fast_merge_matches_batch(spark, sf_dir, scratch, split):
    """streaming_span_merge_fast ≡ merge_span_records on any batch
    schedule that delivers opens no later than closes per id —
    including cross-batch tag-key conflicts (tags resolve by the
    global (start, json) order, not arrival order)."""
    from duo_spark.streaming.merge import read_completed, read_open, streaming_span_merge_fast

    records = _fast_records(spark, sf_dir)
    src = os.path.join(scratch, f"in_{split}")
    if split == "half":
        parts = [records.filter("id % 2 = 0"), records.filter("id % 2 = 1")]
    elif split == "open_close":  # all opens, then all closes
        parts = [records.filter("end IS NULL"), records.filter("end IS NOT NULL")]
    else:  # id-descending halves
        parts = [records.filter("trace_id >= 50"), records.filter("trace_id < 50")]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, f"out_{split}")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, f"ck_{split}"))
    q.awaitTermination()
    got = {r.id: (r.parent_id, r.trace_id, r.name, r.process_id,
                  r.start, r.end, json.loads(r.tags))
           for r in read_completed(spark, out).collect()}
    want = {r.id: (r.parent_id, r.trace_id, r.name, r.process_id,
                   r.start, r.end, json.loads(r.tags))
            for r in merge_span_records(records).collect()}
    assert got == want and want
    # the open table holds exactly the never-closed ids
    open_ids = {r.id for r in read_open(spark, out).collect()}
    all_ids = {r.id for r in records.select("id").distinct().collect()}
    assert open_ids == all_ids - set(want)


def test_fast_merge_replay_idempotent(spark, sf_dir, scratch):
    """A replayed micro-batch (fresh checkpoint over the same source —
    every batch re-runs with the state dirs already populated) must not
    double-emit or corrupt the open table: versioned deltas overwrite
    their own batch id and re-merge into the true predecessor."""
    from duo_spark.streaming.merge import read_completed, streaming_span_merge_fast

    records = _fast_records(spark, sf_dir, n=200)
    src = os.path.join(scratch, "in_replay")
    records.filter("id % 2 = 0").coalesce(1).write.mode("append").parquet(src)
    records.filter("id % 2 = 1").coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, "out_replay")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, "ck1"))
    q.awaitTermination()
    first = {(r.id, r.end) for r in read_completed(spark, out).collect()}
    # full replay: new checkpoint, same source, same state dirs
    stream2 = (spark.readStream.schema(SPAN_SCHEMA)
               .option("maxFilesPerTrigger", "1").parquet(src))
    q2 = streaming_span_merge_fast(stream2, out, os.path.join(scratch, "ck2"))
    q2.awaitTermination()
    second = {(r.id, r.end) for r in read_completed(spark, out).collect()}
    assert second == first
    rows = read_completed(spark, out).groupBy("id").count().filter("count > 1").count()
    assert rows == 0, "replay must not duplicate completed spans"


def test_fast_merge_compaction_preserves_results(spark, sf_dir, scratch):
    """compact_completed folds old delta versions into one snapshot
    without changing read_completed's result, keeps the newest
    retain_latest deltas as-is (replay safety), and a second compact
    with nothing new is a no-op."""
    from duo_spark.streaming.merge import (
        compact_completed, read_completed, streaming_span_merge_fast,
    )
    from duo_spark.streaming.rollup import _version_ids

    records = _fast_records(spark, sf_dir, n=300)
    src = os.path.join(scratch, "in_compact")
    for m in range(4):
        records.filter(f"id % 4 = {m}").coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, "out_compact")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, "ckc"))
    q.awaitTermination()
    before = {(r.id, r.end, r.tags) for r in read_completed(spark, out).collect()}
    n_deltas = len(_version_ids(spark, f"{out}/completed"))
    assert n_deltas >= 4
    upto = compact_completed(spark, out, retain_latest=2)
    assert upto is not None
    after = {(r.id, r.end, r.tags) for r in read_completed(spark, out).collect()}
    assert after == before
    # reader grace (round 13): the FIRST compaction defers deletion a
    # full cycle — folded deltas stay on disk (read_completed ignores
    # them by version id), and only the NEXT compaction drops state
    # the previous snapshot already superseded
    kept = _version_ids(spark, f"{out}/completed")
    assert all(v <= upto for v in kept[:-2]) and len(kept) == n_deltas
    assert _version_ids(spark, f"{out}/compacted") == [upto]
    # nothing new below the retain window: the fold is a no-op, but
    # the second call executes the DEFERRED deletion — the folded
    # deltas drop now that their reader grace has elapsed
    assert compact_completed(spark, out, retain_latest=2) is None
    kept2 = _version_ids(spark, f"{out}/completed")
    assert len(kept2) == 2 and all(v > upto for v in kept2)
    assert {(r.id, r.end, r.tags)
            for r in read_completed(spark, out).collect()} == before


def test_fast_merge_open_max_age_gc(spark, scratch):
    """open_max_age_us drops abandoned opens once the event-time
    high-water mark passes them by the age — deterministic GC (the T4
    TTL analog for the foreachBatch formulation): batch 2's fresh
    events advance the watermark, expiring batch 1's orphan open; the
    close that still arrives within age completes normally."""
    from duo_spark.streaming.merge import (
        read_completed, read_open, streaming_span_merge_fast,
    )

    hour = 3_600_000_000
    b1 = [_rec(1, start=BASE),                      # will be abandoned
          _rec(2, start=BASE + hour - 1000)]        # closes in b2, inside age
    b2 = [_rec(2, start=BASE + hour - 1000, end=BASE + hour + 500),
          _rec(3, start=BASE + 3 * hour),           # fresh open, advances wm
          _rec(3, start=BASE + 3 * hour, end=BASE + 3 * hour + 10)]
    src = os.path.join(scratch, "in_gc")
    spark.createDataFrame(b1, SPAN_SCHEMA).coalesce(1).write.parquet(src)
    spark.createDataFrame(b2, SPAN_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, "out_gc")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, "ckgc"),
                                  open_max_age_us=hour)
    q.awaitTermination()
    done = {r.id: r.end for r in read_completed(spark, out).collect()}
    assert done == {2: BASE + hour + 500, 3: BASE + 3 * hour + 10}
    # span 1's open (age > 1h behind the 3h watermark) was GC'd
    assert {r.id for r in read_open(spark, out).collect()} == set()


def test_fast_merge_late_duplicate_close_first_completion_wins(spark, scratch):
    """Code-review r7: a close arriving AFTER its span completed used
    to re-emit a partial row into a later delta (the id is gone from
    the open table, so there is nothing to merge into) — read_completed
    now dedups by id keeping the LOWEST version, the row merged while
    the open state was present."""
    from duo_spark.streaming.merge import (
        compact_completed, read_completed, streaming_span_merge_fast,
    )

    src = os.path.join(scratch, "in_late")
    open_rec = [_rec(1, parent=10, end=None, tags='{"k":"open"}')]
    close_rec = [_rec(1, end=BASE + 5, tags='{"k":"close"}')]
    late_dup = [_rec(1, name="stray", end=BASE + 99, tags='{"k":"late"}')]
    for batch in (open_rec, close_rec, late_dup):
        spark.createDataFrame(batch, SPAN_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, "out_late")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, "ck_late"))
    q.awaitTermination()
    rows = read_completed(spark, out).collect()
    assert len(rows) == 1
    r = rows[0]
    # the first completion's merge (open+close fields), not the stray's
    assert (r.parent_id, r.name, r.end) == (10, "op", BASE + 5)
    # compaction folds the duplicate away too (snapshot stays deduped)
    compact_completed(spark, out, retain_latest=0)
    rows = read_completed(spark, out).collect()
    assert len(rows) == 1 and rows[0].end == BASE + 5


def test_fast_merge_compaction_rename_failure_deletes_nothing(
    spark, scratch, monkeypatch
):
    """Code-review r7: Hadoop fs.rename signals failure by RETURNING
    FALSE — compact_completed used to ignore it and delete the old
    snapshot plus all folded deltas anyway, losing completed spans. A
    failed rename must now raise and leave every version intact."""
    import duo_spark.streaming.rollup as rollup
    from duo_spark.streaming.merge import (
        compact_completed, read_completed, streaming_span_merge_fast,
    )
    from duo_spark.streaming.rollup import _version_ids

    records = _fast_records(spark, sf_dir="/root/testdata/sf0.001", n=60)
    src = os.path.join(scratch, "in_race")
    for p in (records.filter("id % 2 = 0"), records.filter("id % 2 = 1")):
        p.coalesce(1).write.mode("append").parquet(src)
    stream = (spark.readStream.schema(SPAN_SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = os.path.join(scratch, "out_race")
    q = streaming_span_merge_fast(stream, out, os.path.join(scratch, "ck_race"))
    q.awaitTermination()
    before = {(r.id, r.end) for r in read_completed(spark, out).collect()}
    deltas = sorted(_version_ids(spark, f"{out}/completed"))
    assert deltas

    class _RenameFailsFs:
        """Proxy over the real Hadoop FileSystem: rename reports
        failure (false), everything else passes through."""

        def __init__(self, fs):
            self._fs = fs

        def rename(self, a, b):  # noqa: ARG002
            return False

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real_fs = rollup._fs
    monkeypatch.setattr(
        rollup, "_fs",
        lambda sp, path: (
            (_RenameFailsFs(real_fs(sp, path)[0]), real_fs(sp, path)[1])
        ),
    )
    with pytest.raises(RuntimeError, match="rename"):
        compact_completed(spark, out, retain_latest=0)
    monkeypatch.setattr(rollup, "_fs", real_fs)
    # nothing was deleted by the failed attempt
    assert sorted(_version_ids(spark, f"{out}/completed")) == deltas
    assert compact_completed(spark, out, retain_latest=0) == deltas[-1]
    assert {(r.id, r.end) for r in read_completed(spark, out).collect()} == before


# round 8: the fast merge is the pipeline DEFAULT (VERDICT r7 #4)
# ---------------------------------------------------------------------


def test_fast_pipeline_is_default_and_emits_late_close(spark, scratch):
    """Default-engine memory-mode pipeline: an open in batch 1
    completes when its close arrives in batch 2 (cross-batch open
    state), readable via spark.table throughout."""
    src = os.path.join(scratch, "in")
    table = f"fastlate_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([_rec(7, start=BASE)], SPAN_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    q = start_span_pipeline(
        spark, src, memory_mode=True, memory_table=table,
        checkpoint_dir=os.path.join(scratch, "ckpt"), trigger_seconds=1,
    )
    try:
        q.processAllAvailable()
        assert spark.table(table).count() == 0
        spark.createDataFrame(
            [_rec(7, start=BASE, end=BASE + 777)], SPAN_SCHEMA
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table(table).collect()
        assert [(r.id, r.end) for r in rows] == [(7, BASE + 777)]
    finally:
        q.stop()


def test_fast_pipeline_memory_table_resolves_with_empty_source(spark, scratch):
    """Zero staged files: the memory table must still resolve (the
    engine pre-registers an empty view before the first batch)."""
    src = os.path.join(scratch, "in")
    os.makedirs(src, exist_ok=True)
    # the file source needs at least the dir; write nothing into it
    spark.createDataFrame([], SPAN_SCHEMA).write.mode("overwrite").parquet(
        os.path.join(scratch, "seed")
    )  # unrelated dir just to exercise scratch
    table = f"fastempty_{uuid.uuid4().hex[:8]}"
    q = start_span_pipeline(
        spark, src, memory_mode=True, memory_table=table,
        checkpoint_dir=os.path.join(scratch, "ckpt"), available_now=True,
    )
    q.awaitTermination()
    assert spark.table(table).count() == 0


def test_fast_pipeline_persistent_layout_and_compacted_snapshot(spark, scratch):
    """Default-engine persistent pipeline (round-8 probe-19 shape):
    completed deltas are FLAT per-batch writes carrying the K1
    partition columns as data (a per-batch partitionBy fans every
    batch across every calendar dir — 13× slower on a date-spread
    workload); compaction pays the fan-out once, producing a real
    date=/hour=/minute= snapshot; read_completed is identical before
    and after; withheld opens stay out."""
    from duo_spark.streaming.merge import compact_completed, read_completed

    src = os.path.join(scratch, "in")
    out = os.path.join(scratch, "span")
    recs = [
        _rec(21, start=BASE, end=BASE + 10),
        _rec(22, trace=2, start=BASE + 61_000_000, end=BASE + 61_000_500),
        _rec(23, trace=3, start=BASE + 5),  # open only -> withheld
    ]
    spark.createDataFrame(recs, SPAN_SCHEMA).write.mode("append").parquet(src)
    q = start_span_pipeline(
        spark, src, out_dir=out, checkpoint_dir=os.path.join(scratch, "ckpt"),
        available_now=True,
    )
    q.awaitTermination()
    vdirs = [d for d in os.listdir(os.path.join(out, "completed")) if d.startswith("v=")]
    assert vdirs, f"expected versioned deltas in {out}/completed"
    inner = os.listdir(os.path.join(out, "completed", vdirs[0]))
    # deltas are FLAT: parquet files, no per-batch calendar dirs
    assert not any(d.startswith("date=") for d in inner), inner
    back = read_completed(spark, out)
    assert {r.id for r in back.collect()} == {21, 22}
    minutes = {r.minute for r in back.select("minute").distinct().collect()}
    assert all(isinstance(m, str) for m in minutes) and len(minutes) == 2
    before = {(r.id, r.end, r.date, r.minute) for r in back.collect()}
    # compaction produces the REAL partitioned snapshot
    assert compact_completed(spark, out, retain_latest=0) is not None
    snap = os.listdir(os.path.join(out, "compacted"))
    vsnap = [d for d in snap if d.startswith("v=")]
    assert vsnap and any(
        d.startswith("date=")
        for d in os.listdir(os.path.join(out, "compacted", vsnap[0]))
    )
    after = {(r.id, r.end, r.date, r.minute)
             for r in read_completed(spark, out).collect()}
    assert after == before


def test_fast_pipeline_empty_completed_batch_readable(spark, scratch):
    """A persistent-mode batch that completes nothing writes an EMPTY
    (flat, schema-carrying) completed version — readable, zero rows;
    the open state advances, and the late close in the next drain
    completes the span."""
    from duo_spark.streaming.merge import read_completed

    src = os.path.join(scratch, "in")
    out = os.path.join(scratch, "span")
    ckpt = os.path.join(scratch, "ckpt")
    spark.createDataFrame([_rec(31, start=BASE)], SPAN_SCHEMA).write.mode(
        "append"
    ).parquet(src)
    q = start_span_pipeline(
        spark, src, out_dir=out, checkpoint_dir=ckpt, available_now=True
    )
    q.awaitTermination()
    assert read_completed(spark, out).count() == 0
    assert [d for d in os.listdir(os.path.join(out, "open")) if d.startswith("v=")]
    spark.createDataFrame(
        [_rec(31, start=BASE, end=BASE + 99)], SPAN_SCHEMA
    ).write.mode("append").parquet(src)
    q = start_span_pipeline(
        spark, src, out_dir=out, checkpoint_dir=ckpt, available_now=True
    )
    q.awaitTermination()
    got = {(r.id, r.end) for r in read_completed(spark, out).collect()}
    assert got == {(31, BASE + 99)}


def test_engine_serves_spans_from_fast_store(spark, scratch):
    """DuoEngine end-to-end: an empty engine answers all 8 routes (each
    table reads as an empty frame in its schema), then a persistent
    drain lands versioned completed deltas that spans() reads back."""
    import glob
    import urllib.error
    import urllib.request

    from duo_spark.engine import DuoEngine

    def status(url):
        try:
            with urllib.request.urlopen(url, timeout=60) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    data_dir = os.path.join(scratch, "data")
    eng = DuoEngine(spark, data_dir, trigger_seconds=1)
    try:
        assert eng.spans().count() == 0
        assert eng.logs().count() == 0
        host, port = eng.serve_http()
        routes = ["/stats", "/api/traces", "/api/traces/1", "/api/services",
                  "/api/services/web/operations", "/api/logs",
                  "/api/logs/schema", "/api/logs/stats/level"]
        got = {r: status(f"http://{host}:{port}{r}") for r in routes}
        assert got == {r: 200 for r in routes}
        mem = DuoEngine(spark, os.path.join(scratch, "mem"), memory_mode=True)
        assert mem.spans().count() == 0 and mem.logs().count() == 0
        src = eng.span_source
        os.makedirs(src, exist_ok=True)
        spark.createDataFrame(
            [_rec(41, start=BASE, end=BASE + 10, tags=json.dumps({"k": "v"})),
             _rec(42, start=BASE + 20)],
            SPAN_SCHEMA,
        ).write.mode("append").parquet(src)
        eng.drain()
        # the persistent path ran: versioned completed deltas on disk
        span_root = eng.store.table_path("span")
        assert glob.glob(os.path.join(span_root, "completed", "v=*"))
        rows = {r.id: r for r in eng.spans().collect()}
        assert set(rows) == {41}
        assert json.loads(rows[41].tags) == {"k": "v"}
    finally:
        eng.stop()


def _engine_load(spark, eng, spans, logs):
    """Stage span and log rows as the ingest server would, then drain.
    A table given no rows gets no staged file, so its store key stays."""
    from duo_spark.schemas import LOG_CORE_SCHEMA

    for rows, schema, source in ((spans, SPAN_SCHEMA, eng.span_source),
                                 (logs, LOG_CORE_SCHEMA, eng.log_source)):
        if rows:
            spark.createDataFrame(rows, schema).write.mode("append").parquet(source)
    eng.drain()


def _span_logs(env):
    """span id -> its log messages, over a Jaeger trace envelope."""
    return {int(s["spanID"]): [f["value"] for lg in s["logs"] for f in lg["fields"]
                               if f["key"] == "message"]
            for t in env["data"] for s in t["spans"]}


def _served(eng, route):
    """``route(svc)`` over one leased query service, as one request."""
    with eng.query_service() as svc:
        return route(svc)


def _log(span_id, message, time=BASE):
    return ("web-0", time, 61, span_id, "INFO", "t", "f.rs", 1, message)


def test_engine_reuses_frames_until_store_changes(spark, scratch, persistent_ids, jobs_in):
    """On an unchanged persistent store a second request leases the same
    generation and launches no Spark job; a span commit changes the span
    key, and the next request builds a new span frame, keeps the log
    frame and frees the superseded span checkpoint."""
    from duo_spark.engine import DuoEngine

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng, [_rec(51, start=BASE, end=BASE + 10)], [_log(51, "m")])
        (spans, logs), built = jobs_in(lambda: _served(eng, lambda s: (s.spans, s.logs)))
        assert built > 0, "the first request builds the generation"
        (spans2, logs2), reused = jobs_in(lambda: _served(eng, lambda s: (s.spans, s.logs)))
        assert spans2 is spans and logs2 is logs
        assert reused == 0
        _engine_load(spark, eng, [_rec(52, start=BASE + 20, end=BASE + 30)], [])
        spans3, logs3 = _served(eng, lambda s: (s.spans, s.logs))
        assert spans3 is not spans and logs3 is logs
        assert {r.id for r in spans3.collect()} == {51, 52}
        span_rdd = spans._jdf.queryExecution().logical().rdd().id()
        assert span_rdd not in persistent_ids()
    finally:
        eng.stop()


def test_engine_generation_routes_start_one_job(spark, scratch, jobs_in):
    """On an unchanged one-partition store every route filters or
    aggregates checkpointed one-partition frames: field_stats and
    operations plan no exchange and start at most 1 Spark job each,
    list_logs and get_trace at most 1, list_traces at most 2."""
    from duo_spark.engine import DuoEngine

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng,
                     [_rec(61, trace=61, start=BASE, end=BASE + 50),
                      _rec(62, parent=61, trace=61, name="db", start=BASE + 5, end=BASE + 9)],
                     [_log(62, "first", BASE + 6)])
        _served(eng, lambda s: s.get_trace(61))  # builds the generation
        routes = {
            "field_stats": lambda s: s.field_stats("level", {}),
            "operations": lambda s: s.operations("web"),
            "list_logs": lambda s: s.list_logs({}),
            "get_trace": lambda s: s.get_trace(61),
            "list_traces": lambda s: s.list_traces({}),
        }
        got = {name: jobs_in(lambda r=r: _served(eng, r)) for name, r in routes.items()}
        bound = {"field_stats": 1, "operations": 1, "list_logs": 1, "get_trace": 1,
                 "list_traces": 2}
        assert {k: jobs for k, (_, jobs) in got.items() if jobs > bound[k]} == {}
        assert got["field_stats"][0] == [{"value": "INFO", "count": 1}]
        assert got["operations"][0]["data"] == ["db", "op"]
        assert _span_logs(got["get_trace"][0]) == {61: [], 62: ["first"]}
        assert _served(eng, lambda s: (s.spans.rdd.getNumPartitions(),
                                       s.logs.rdd.getNumPartitions())) == (1, 1)
    finally:
        eng.stop()


def test_engine_trace_routes_filter_one_trace_frame(spark, scratch, persistent_ids,
                                                    jobs_in):
    """On an unchanged persistent store the trace routes filter the
    generation's checkpointed trace frame: get_trace starts at most 1
    Spark job, list_traces at most 2. A span and log drained later show
    on the next get_trace; the engine holds one generation's three
    frames (span, log, trace) after each request, a compacted store
    keeps its generation too, and stop() frees it."""
    from duo_spark.engine import DuoEngine

    before = persistent_ids()
    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng,
                     [_rec(61, trace=61, start=BASE, end=BASE + 50),
                      _rec(62, parent=61, trace=61, start=BASE + 5, end=BASE + 9)],
                     [_log(62, "first", BASE + 6)])
        assert _span_logs(_served(eng, lambda s: s.get_trace(61))) == {61: [], 62: ["first"]}
        assert len(persistent_ids() - before) == 3
        env, got_jobs = jobs_in(lambda: _served(eng, lambda s: s.get_trace(61)))
        assert got_jobs <= 1
        assert _span_logs(env) == {61: [], 62: ["first"]}
        env, list_jobs = jobs_in(lambda: _served(eng, lambda s: s.list_traces({})))
        assert list_jobs <= 2
        assert [t["traceID"] for t in env["data"]] == ["61"]

        _engine_load(spark, eng, [_rec(63, parent=61, trace=61, start=BASE + 20, end=BASE + 30)],
                     [("web-0", BASE + 21, 61, 63, "WARN", "t", "f.rs", 2, "later")])
        env = _served(eng, lambda s: s.get_trace(61))
        assert _span_logs(env) == {61: [], 62: ["first"], 63: ["later"]}
        assert len(persistent_ids() - before) == 3
        _engine_load(spark, eng, [_rec(71, trace=71, start=BASE + 90, end=BASE + 99)], [])
        traces = _served(eng, lambda s: s.list_traces({}))
        assert [t["traceID"] for t in traces["data"]] == ["71", "61"]
        assert len(persistent_ids() - before) == 3

        # a compacted store keeps a key, so its generation is checkpointed too
        eng.compact(retain_latest=1)
        eng.compact(retain_latest=1)
        want = {61: [], 62: ["first"], 63: ["later"]}
        assert _span_logs(_served(eng, lambda s: s.get_trace(61))) == want
        env, got_jobs = jobs_in(lambda: _served(eng, lambda s: s.get_trace(61)))
        assert got_jobs <= 1
        assert _span_logs(env) == want
        assert len(persistent_ids() - before) == 3
    finally:
        eng.stop()
    assert not (persistent_ids() - before)


def test_engine_lease_outlives_the_next_generation(spark, scratch, persistent_ids, monkeypatch):
    """A request that leased generation g keeps answering from g while
    the store changes and a later request builds and reads g+1; g's
    frames are freed when that request ends, and stop() frees g+1's."""
    import threading
    import urllib.request

    from duo_spark.engine import DuoEngine
    from duo_spark.web.api import QueryService

    entered, go = threading.Event(), threading.Event()
    get_trace = QueryService.get_trace

    def held(self, trace_id):
        if not entered.is_set():
            entered.set()
            go.wait(120)
        return get_trace(self, trace_id)

    monkeypatch.setattr(QueryService, "get_trace", held)
    before = persistent_ids()
    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng, [_rec(61, trace=61, start=BASE, end=BASE + 50)],
                     [_log(61, "first")])
        web = eng.serve_http()

        def get(path):
            with urllib.request.urlopen(f"http://{web[0]}:{web[1]}{path}", timeout=120) as r:
                return r.status, json.loads(r.read())

        first: list = []
        holder = threading.Thread(target=lambda: first.append(get("/api/traces/61")))
        holder.start()
        assert entered.wait(120)
        g = persistent_ids() - before
        assert len(g) == 2  # span and log; the trace frame is built after the hold
        _engine_load(spark, eng, [_rec(62, parent=61, trace=61, start=BASE + 5, end=BASE + 9)],
                     [_log(62, "second", BASE + 6)])
        status, env = get("/api/traces/61")
        assert status == 200
        assert _span_logs(env) == {61: ["first"], 62: ["second"]}
        assert g <= persistent_ids()  # g is leased: still held
        go.set()
        holder.join(120)
        assert first and first[0][0] == 200
        assert _span_logs(first[0][1]) == {61: ["first"]}
        now = persistent_ids() - before
        assert len(now) == 3 and not (now & g)
    finally:
        go.set()
        eng.stop()
    assert not (persistent_ids() - before)


def test_engine_leases_hold_under_concurrent_rebuilds(spark, scratch, persistent_ids,
                                                     monkeypatch):
    """Stress: 8 request threads (more than the cores) lease and read
    while the store key changes every few listings, so generations are
    built, superseded and dropped under contention. No read hits a
    released frame, and afterwards the engine holds exactly the current
    generation, unleased."""
    import itertools
    import sys
    import threading

    from duo_spark.engine import DuoEngine
    from duo_spark.streaming import merge

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    _engine_load(spark, eng, [_rec(51, start=BASE, end=BASE + 10)], [_log(51, "m")])
    listed, ticks = merge.completed_versions, itertools.count()

    def listing(*args, **kwargs):
        """The real listing, its stamps moved on every 6th call."""
        v = listed(*args, **kwargs)
        return v._replace(stamps=v.stamps + (next(ticks) // 6,))

    monkeypatch.setattr(merge, "completed_versions", listing)
    before = persistent_ids()
    counts, errors = [], []

    def worker():
        try:
            for _ in range(6):
                with eng.query_service() as svc:
                    counts.append((svc.spans.count(), svc.logs.count()))
        except Exception as e:  # recorded, asserted below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert counts == [(1, 1)] * 48
        assert eng._held == [eng._gen] and eng._gen.leases == 0
        frames = {df._jdf.queryExecution().logical().rdd().id() for df in eng._gen.frames()}
        assert persistent_ids() - before == frames
    finally:
        sys.setswitchinterval(interval)
        eng.stop()
    assert not (persistent_ids() - before)


def test_engine_trace_request_lists_each_table_once(spark, scratch, monkeypatch):
    """An HTTP trace request reads each table's store key once: the
    lease lists both tables (2 ``completed_versions`` calls) and the
    route reads the leased generation."""
    import urllib.request

    from duo_spark.engine import DuoEngine
    from duo_spark.streaming import merge

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng, [_rec(61, trace=61, start=BASE, end=BASE + 50)],
                     [_log(61, "first")])
        web = eng.serve_http()

        def get(path):
            with urllib.request.urlopen(f"http://{web[0]}:{web[1]}{path}", timeout=120) as r:
                assert r.status == 200

        get("/api/traces/61")
        calls = []
        listed = merge.completed_versions

        def counted(*args, **kwargs):
            calls.append(args[1])
            return listed(*args, **kwargs)

        monkeypatch.setattr(merge, "completed_versions", counted)
        get("/api/traces/61")
        assert sorted(calls) == sorted(eng.store.table_path(t) for t in ("span", "log"))
    finally:
        eng.stop()


def test_engine_generation_reads_the_versions_its_key_lists(spark, scratch, monkeypatch):
    """A generation build lists each table once (2 ``completed_versions``
    calls) and its frames read exactly the listed versions: a span
    version published right after the key listing is not in that
    generation's frame, and the next request's generation shows it."""
    from duo_spark.engine import DuoEngine
    from duo_spark.streaming import merge

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        _engine_load(spark, eng, [_rec(71, start=BASE, end=BASE + 10)], [_log(71, "m")])
        calls = []
        listed = merge.completed_versions

        def publish_after_listing(*args, **kwargs):
            """The real listing; the first span listing is followed by a
            new span version."""
            v = listed(*args, **kwargs)
            calls.append(args[1])
            if args[1] == eng.store.table_path("span") and len(calls) == 1:
                _engine_load(spark, eng, [_rec(72, start=BASE + 20, end=BASE + 30)], [])
            return v

        monkeypatch.setattr(merge, "completed_versions", publish_after_listing)
        built = _served(eng, lambda s: {r.id for r in s.spans.collect()})
        assert sorted(calls) == sorted(eng.store.table_path(t) for t in ("span", "log"))
        assert built == {71}
        assert _served(eng, lambda s: {r.id for r in s.spans.collect()}) == {71, 72}
    finally:
        eng.stop()


def test_engine_http_fresh_after_each_store_change(spark, scratch):
    """Reused frames never serve a stale store: after a first request,
    each change shows on the next serve_http request — spans drained
    later, a log field first sent later, a process registered later,
    compaction (the frame's old delta versions are deleted) and a log
    field first sent after the compaction."""
    import urllib.request

    from duo_spark.engine import DuoEngine
    from duo_spark.streaming.ingest_server import IngestClient

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        ingest = eng.start_ingest()

        def send(ids=(), fields=None, service=None):
            c = IngestClient(*ingest)
            try:
                if service is not None:
                    c.register_process(service)
                for i in ids:
                    c.record_span(id=i, parent_id=None, trace_id=i, name="op",
                                  process_id="web-0", start=BASE + i,
                                  end=BASE + i + 5, tags=None)
                if fields is not None:
                    c.record_log(process_id="web-0", time=BASE, level="INFO",
                                 fields=fields)
            finally:
                c.close()
            if ids or fields is not None:
                eng.drain()

        web = eng.serve_http()

        def get(path):
            url = f"http://{web[0]}:{web[1]}{path}"
            with urllib.request.urlopen(url, timeout=120) as resp:
                return json.loads(resp.read())

        def span_ids():
            data = get("/api/traces?limit=100")["data"]
            return {int(s["spanID"]) for t in data for s in t["spans"]}

        def log_fields():
            return {f["name"] for f in get("/api/logs/schema")}

        send(ids=(1, 2), fields={"message": "a"}, service="web")
        assert span_ids() == {1, 2}
        assert "tenant" not in log_fields()
        assert get("/api/services")["data"] == ["web"]

        send(ids=(3,))
        assert span_ids() == {1, 2, 3}

        send(fields={"message": "b", "tenant": "acme"})
        assert "tenant" in log_fields()

        send(service="worker")
        assert get("/api/services")["data"] == ["web", "worker"]

        before = span_ids()
        # the second compaction deletes the deltas the first one folded,
        # so a frame still planned over them would fail its scan
        eng.compact(retain_latest=1)
        eng.compact(retain_latest=1)
        assert span_ids() == before

        # schema drift across the fold: the snapshot predates the field
        send(fields={"message": "c", "region": "eu"})
        assert {"tenant", "region"} <= log_fields()
        assert {lg["message"] for lg in get("/api/logs?limit=100")} == {"a", "b", "c"}
    finally:
        eng.stop()


def test_engine_routes_answer_after_compact_and_restart(spark, scratch):
    """Compaction then a pipeline restart (perfbench/NOTES.md defect 2):
    all 8 routes answer 200, the rows from before the compaction are
    intact, and a span and a log processed after it show in
    /api/traces/:id and /api/logs."""
    import urllib.error
    import urllib.request

    from duo_spark.engine import DuoEngine
    from duo_spark.streaming.ingest_server import IngestClient

    eng = DuoEngine(spark, os.path.join(scratch, "data"), trigger_seconds=1)
    try:
        ingest = eng.start_ingest()

        def send(span_id, message):
            c = IngestClient(*ingest)
            try:
                if span_id == 1:
                    c.register_process("web")
                c.record_span(id=span_id, parent_id=None, trace_id=span_id, name="op",
                              process_id="web-0", start=BASE + span_id,
                              end=BASE + span_id + 5, tags=None)
                c.record_log(process_id="web-0", time=BASE + span_id, trace_id=span_id,
                             span_id=span_id, level="INFO", message=message)
            finally:
                c.close()

        for i in (1, 2, 3):
            send(i, f"m{i}")
            eng.drain()
        counts = (eng.spans().count(), eng.logs().count())
        assert counts == (3, 3)
        eng.compact(retain_latest=1)
        eng.compact(retain_latest=1)
        eng.start_pipelines()
        web = eng.serve_http()

        def get(path):
            url = f"http://{web[0]}:{web[1]}{path}"
            try:
                with urllib.request.urlopen(url, timeout=120) as resp:
                    return resp.status, json.loads(resp.read())
            except urllib.error.HTTPError as e:
                return e.code, None

        routes = ["/stats", "/api/traces", "/api/traces/1", "/api/services",
                  "/api/services/web/operations", "/api/logs",
                  "/api/logs/schema", "/api/logs/stats/level"]
        got = {r: get(r)[0] for r in routes}
        assert got == {r: 200 for r in routes}
        assert (eng.spans().count(), eng.logs().count()) == counts

        send(9, "after")
        eng._server.flush()
        for q in eng._queries:
            q.processAllAvailable()
        status, env = get("/api/traces/9")
        assert status == 200
        assert [s["spanID"] for t in env["data"] for s in t["spans"]] == ["9"]
        status, logs = get("/api/logs?limit=100")
        assert status == 200
        assert {lg["message"] for lg in logs} == {"m1", "m2", "m3", "after"}
        assert (eng.spans().count(), eng.logs().count()) == (4, 4)
    finally:
        eng.stop()


def test_streaming_hll_rollup_bit_identical_to_batch_sketch(spark, scratch, sf_dir):
    """Round 8 (VERDICT r7 #6): the streamed register merge must be
    BIT-identical to sketching the whole table at once, on any batch
    split — max is associative+commutative."""
    from duo_spark.operators.sketch import hll_sketch
    from duo_spark.streaming.rollup import read_rollup, streaming_hll_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "user_id"
    )
    for split, mod in (("a", 2), ("b", 3)):
        src = os.path.join(scratch, f"in_{split}")
        for i in range(mod):
            ev.filter(F.col("event_id") % mod == i).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema("event_id long, event_type string, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = os.path.join(scratch, f"roll_{split}")
        q = streaming_hll_rollup(
            stream, ["event_type"], "user_id",
            out_dir=out, checkpoint_dir=os.path.join(scratch, f"ck_{split}"),
        )
        q.awaitTermination()
        got = {
            (r.event_type, r.bucket, r.register)
            for r in read_rollup(spark, out).collect()
        }
        want = {
            (r.event_type, r.bucket, r.register)
            for r in hll_sketch(ev, ["event_type"], "user_id").collect()
        }
        assert got == want and got, split


def test_streaming_cms_rollup_additive_merge_equals_batch(spark, scratch, sf_dir):
    """The streamed CMS register table (sum merge) equals the one-shot
    sketch: register counts are exact integer sums."""
    from duo_spark.operators.sketch import cms_sketch
    from duo_spark.streaming.rollup import read_rollup, streaming_cms_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    src = os.path.join(scratch, "cms_in")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = os.path.join(scratch, "cms_roll")
    q = streaming_cms_rollup(
        stream, "user_id", out_dir=out,
        checkpoint_dir=os.path.join(scratch, "cms_ck"), w=256, d=4,
    )
    q.awaitTermination()
    got = {(r.row, r.bucket, r["count"]) for r in read_rollup(spark, out).collect()}
    want = {
        (r.row, r.bucket, r["count"])
        for r in cms_sketch(ev, "user_id", w=256, d=4).collect()
    }
    assert got == want and got


def test_streaming_moments_rollup_equals_batch_sketch(spark, scratch, sf_dir):
    """Round 8: the streamed moments merge (sum/min/max per column) is
    EXACTLY the one-shot sketch — decimal sums are order-free."""
    from duo_spark.operators.sketch import moments_sketch
    from duo_spark.streaming.rollup import read_rollup, streaming_moments_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    src = os.path.join(scratch, "mom_in")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = os.path.join(scratch, "mom_roll")
    q = streaming_moments_rollup(
        stream, ["event_type"], "value",
        out_dir=out, checkpoint_dir=os.path.join(scratch, "mom_ck"),
    )
    q.awaitTermination()
    got = {
        r.event_type: (r.n, r.vmin, r.vmax, r.m1, r.m2, r.m3, r.m4)
        for r in read_rollup(spark, out).collect()
    }
    want = {
        r.event_type: (r.n, r.vmin, r.vmax, r.m1, r.m2, r.m3, r.m4)
        for r in moments_sketch(ev, ["event_type"], "value").collect()
    }
    assert got == want and got


def test_engine_compact_folds_fast_span_deltas(spark, scratch):
    """DuoEngine.compact() (round 8): repeated drains leave multiple
    completed delta versions; compaction folds the old ones into a
    snapshot, and spans() reads the identical row set after."""
    from duo_spark.engine import DuoEngine

    data_dir = os.path.join(scratch, "data")
    eng = DuoEngine(spark, data_dir, trigger_seconds=1)
    src = eng.span_source
    os.makedirs(src, exist_ok=True)
    for i in range(4):
        spark.createDataFrame(
            [_rec(100 + i, start=BASE + i, end=BASE + i + 10)], SPAN_SCHEMA
        ).write.mode("append").parquet(src)
        eng.drain()
    span_root = eng.store.table_path("span")
    n_before = len([d for d in os.listdir(os.path.join(span_root, "completed"))
                    if d.startswith("v=")])
    assert n_before >= 3
    before = {(r.id, r.end) for r in eng.spans().collect()}
    eng.compact(retain_latest=1)
    assert os.path.isdir(os.path.join(span_root, "compacted"))
    # round-13 reader grace: the first compact folds but DEFERS the
    # delta deletion one cycle; the second executes it
    eng.compact(retain_latest=1)
    n_after = len([d for d in os.listdir(os.path.join(span_root, "completed"))
                   if d.startswith("v=")])
    assert n_after < n_before
    after = {(r.id, r.end) for r in eng.spans().collect()}
    assert after == before == {(100 + i, BASE + i + 10) for i in range(4)}


def test_fast_merge_processor_replay_is_idempotent(spark, scratch):
    """Crash-replay semantics, tested DIRECTLY: re-running a batch id
    against the same state dirs (what Structured Streaming does after
    a crash between the sink write and the checkpoint commit) must
    leave completed/open state identical — versions overwrite, the
    predecessor open version is still present to merge into."""
    from duo_spark.streaming.merge import fast_merge_processor, read_completed, read_open

    out = os.path.join(scratch, "state")
    proc = fast_merge_processor(out, partition_completed=True)
    b0 = spark.createDataFrame(
        [_rec(1, start=BASE), _rec(2, start=BASE + 1, end=BASE + 50)], SPAN_SCHEMA
    )
    b1 = spark.createDataFrame(
        [_rec(1, start=BASE, end=BASE + 99)], SPAN_SCHEMA
    )
    proc(b0, 0)
    proc(b0, 0)  # replay of batch 0 BEFORE batch 1 ran
    proc(b1, 1)
    proc(b1, 1)  # replay of batch 1
    got = {(r.id, r.end) for r in read_completed(spark, out).collect()}
    assert got == {(2, BASE + 50), (1, BASE + 99)}
    assert read_open(spark, out).count() == 0


def test_completed_versions_key_changes_on_replay(spark, scratch):
    """A replayed batch rewrites its own completed version in place: no
    version id changes, but the listing value (the engine's span store
    key) must, or a reused frame would scan the replaced files."""
    from duo_spark.streaming.merge import completed_versions, fast_merge_processor

    out = os.path.join(scratch, "state")
    proc = fast_merge_processor(out, partition_completed=True)
    b0 = spark.createDataFrame([_rec(1, start=BASE, end=BASE + 5)], SPAN_SCHEMA)
    proc(b0, 0)
    first = completed_versions(spark, out)
    assert (first.snapshot, first.deltas) == (None, (0,))
    assert completed_versions(spark, out) == first
    proc(b0, 0)
    again = completed_versions(spark, out)
    assert again.deltas == first.deltas and again != first
