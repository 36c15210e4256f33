"""Streaming span completion (T4): the aggregation tick as a
JVM-side foreachBatch partial-merge — the one span-completion engine
behind ``pipeline.start_span_pipeline``.

A per-event formulation (applyInPandasWithState, one Python update
call per span-id group per micro-batch) paid ~0.7 ms per group —
2.4k rows/s at sf0.1, ~36× below this merge (SCALING.md probe 13).
The reference's own design point is the 1 s aggregation tick
(duo/src/grpc/server.rs:31-46): records buffer, then one merge pass
per tick. That shape maps to foreachBatch: each
micro-batch computes its in-batch merge with ONE hash aggregate
(whole-stage codegen, map-side combine), then full-outer-merges it
into the persisted open-span state — no per-group Python anywhere.

Merge rules are merge_span_records' (duo/src/aggregator.rs:17-39):
scalars fold with min/max (commutative, so batch order is
irrelevant); tags accumulate as DISTINCT (start, raw-json) pairs and
resolve at emission by the same sorted fold the batch operator uses —
array_union is associative+commutative, so any batch schedule yields
the same final pairs, and therefore the same resolved tags, as the
one-shot batch merge. ``tests/test_streaming.py`` pins this.

Bounded-state caveat (the watermark contract every streaming engine
makes): a record for a span that already COMPLETED in an earlier
batch merges into nothing — its id is gone from the open table, so a
duplicate/late close re-emits a partial row into a later completed
delta. Equality with the batch merge therefore holds for records
that arrive before (or in the batch of) their span's completion;
later strays are resolved FIRST-COMPLETION-WINS: ``read_completed``
and ``compact_completed`` dedup by id keeping the lowest-version row
(the one merged while the open state was still present), so reads
stay exactly-once under at-least-once delivery.

State layout under ``out_dir``:
  open/v=<batch_id>       all ids still missing an ``end`` (two
                          newest versions kept — the rollup.py replay
                          discipline: batch b reads the newest version
                          STRICTLY BELOW b, so a replayed batch merges
                          into its true predecessor)
  completed/v=<batch_id>  the spans COMPLETED by batch b (a delta log;
                          replays overwrite their own version, so the
                          union over versions is exactly-once)
  compacted/v=<batch_id>  snapshot of every delta up to b
                          (:func:`compact_completed`)

The log table uses the same ``completed``/``compacted`` layout, read
and folded by the same functions: each log batch is one delta
(:func:`log_append_processor`), with no open table and no dedup.

At scale the open table is O(open spans) like the state store, but it
lives in parquet and merges via one shuffle per batch; completed
deltas are append-only output. A span id arriving entirely within one
batch never touches the open table (completed straight out of the
in-batch merge).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.functions.codec import tags_variant
from duo_spark.sources.store import read_uninferred
from duo_spark.streaming.rollup import (
    _latest_id,
    _prune_versions,
    _version_ids,
    _version_stamps,
)


def _in_batch_partial(batch: DataFrame) -> DataFrame:
    """One hash aggregate: the batch's records merged per id, tags kept
    as unresolved (start, json) pairs."""
    return batch.groupBy("id").agg(
        F.min("trace_id").alias("trace_id"),
        F.min("parent_id").alias("parent_id"),
        F.min("name").alias("name"),
        F.min("process_id").alias("process_id"),
        F.min("start").alias("start"),
        F.max("end").alias("end"),
        F.array_distinct(
            F.collect_list(
                F.when(
                    F.col("tags").isNotNull(),
                    F.struct(F.col("start").alias("o"), F.col("tags").alias("t")),
                )
            )
        ).alias("_pairs"),
    )


def _resolve_tags_col() -> F.Column:
    """Sorted fold of the accumulated (start, json) pairs — identical
    to merge_span_records' later-keys-win fold, so the emitted JSON
    matches the batch operator byte-for-byte."""
    empty = F.create_map().cast("map<string,variant>")
    return F.to_json(
        F.aggregate(
            F.sort_array(F.col("_pairs")),
            empty,
            lambda acc, x: F.map_zip_with(
                acc,
                F.coalesce(tags_variant(x["t"]), empty),
                lambda _k, v1, v2: F.coalesce(v2, v1),
            ),
        )
    )


def fast_merge_processor(
    out_dir: str,
    open_max_age_us: int | None = None,
    partition_completed: bool = False,
    on_batch=None,
):
    """Build the foreachBatch processor behind
    :func:`streaming_span_merge_fast` — factored out (round 8) so
    ``pipeline.start_span_pipeline`` can run the SAME merge under any
    trigger and sink arrangement.

    ``partition_completed=True`` adds the K1 date/hour/minute
    partition COLUMNS to each completed delta version — as DATA
    columns, one flat write per batch. Round-8 lesson (probe 19): a
    per-batch ``partitionBy`` write fans every micro-batch across
    every calendar directory its spans touch (the probe's date-spread
    workload hit ~2,500 dirs/batch → 48 s batches, 13× slower than
    the merge itself); the delta log therefore stays flat and FAST,
    and :func:`compact_completed` pays the directory fan-out ONCE,
    folding deltas into a REAL partitioned + bloom-filtered snapshot
    that pruning-sensitive readers scan. Recent deltas are small by
    construction (at most a few ticks), so scanning them unpruned
    costs nothing.

    ``on_batch(spark, batch_id)``, if given, runs after each batch's
    state is committed — the memory-mode hook that refreshes the
    reader view.
    """

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        partial = _in_batch_partial(batch)
        prev_id = _latest_id(spark, f"{out_dir}/open", below=batch_id)
        if prev_id is not None:
            prev = spark.read.schema(partial.schema).parquet(
                f"{out_dir}/open/v={prev_id}"
            )
            p = prev.select(*[F.col(c).alias(f"_p_{c}") for c in prev.columns])
            joined = partial.join(p, partial["id"] == p["_p_id"], "full_outer")
            empty_pairs = F.array().cast("array<struct<o:bigint,t:string>>")
            merged = joined.select(
                F.coalesce(partial["id"], p["_p_id"]).alias("id"),
                F.least(partial["trace_id"], p["_p_trace_id"]).alias("trace_id"),
                F.least(partial["parent_id"], p["_p_parent_id"]).alias("parent_id"),
                F.least(partial["name"], p["_p_name"]).alias("name"),
                F.least(partial["process_id"], p["_p_process_id"]).alias("process_id"),
                F.least(partial["start"], p["_p_start"]).alias("start"),
                # prev-open rows carry end=NULL by construction
                # (still_open filters end IS NULL), so greatest is
                # simply "the batch's close wins if present"
                F.greatest(partial["end"], p["_p_end"]).alias("end"),
                F.array_distinct(
                    F.concat(
                        F.coalesce(p["_p__pairs"], empty_pairs),
                        F.coalesce(partial["_pairs"], empty_pairs),
                    )
                ).alias("_pairs"),
            )
        else:
            merged = partial
        # one pass computes both splits; localCheckpoint would hold the
        # batch hostage in memory — two scans of a batch-sized frame
        # are cheaper and keep the job stateless
        completed = merged.filter(F.col("end").isNotNull())
        still_open = merged.filter(F.col("end").isNull())
        wm = None
        if open_max_age_us is not None:
            # event-time high-water mark: this batch's max event time
            # folded with the predecessor's sidecar (one single-row
            # aggregate collect — bounded driver metadata). Replay
            # reads the true predecessor, so GC is deterministic.
            row = batch.agg(
                F.max(F.greatest(F.col("start"), F.coalesce("end", "start")))
            ).collect()[0][0]
            prev_wm = _read_wm(spark, out_dir, prev_id)
            wm = max(
                (v for v in (row, prev_wm) if v is not None), default=None
            )
            if wm is not None:
                still_open = still_open.filter(
                    F.col("start") >= wm - open_max_age_us
                )
        done = completed.withColumn("tags", _resolve_tags_col()).drop("_pairs")
        if partition_completed:
            from duo_spark.sources.store import with_partition_cols

            done = with_partition_cols(done, "start", "minute")
        _publish_version(spark, done, f"{out_dir}/completed", batch_id)
        still_open.write.mode("overwrite").parquet(
            f"{out_dir}/open/.tmp-{batch_id}"
        )
        if wm is not None:
            _write_wm(spark, out_dir, batch_id, wm,
                      at=f"{out_dir}/open/.tmp-{batch_id}")
        _publish_dir(
            spark,
            f"{out_dir}/open/.tmp-{batch_id}",
            f"{out_dir}/open/v={batch_id}",
        )
        keep = (batch_id,) if prev_id is None else (batch_id, prev_id)
        _prune_versions(spark, f"{out_dir}/open", keep=keep)
        if on_batch is not None:
            on_batch(spark, batch_id)

    return process


def streaming_span_merge_fast(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    open_max_age_us: int | None = None,
):
    """Span completion over a SPAN_SCHEMA stream, JVM-side. Returns the
    started availableNow query; read results with
    :func:`read_completed` / :func:`read_open`.

    ``open_max_age_us`` is the event-time bound on open-span state
    (duo/src/aggregator.rs buffers opens forever; SURVEY §3 flags that
    as unbounded): opens whose ``start`` has fallen more than the age
    behind the high-water event time are dropped from the open table —
    without it the table grows with abandoned spans forever. The
    high-water mark is EVENT time (max of start/end seen), folded
    across batches through a sidecar file next to each open version,
    so a replayed batch recomputes the identical GC decision from its
    true predecessor — deterministic, unlike a wall-clock TTL."""
    return (
        stream.writeStream.foreachBatch(
            fast_merge_processor(out_dir, open_max_age_us)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def log_append_processor(
    out_dir: str, partition_completed: bool = False, on_batch=None
):
    """The foreachBatch processor behind ``pipeline.start_log_pipeline``:
    logs need no completion merge, so each batch is published as-is as
    the delta ``completed/v=<batch_id>`` (a replay overwrites its own
    version). Options as :func:`fast_merge_processor`'s; the K1 columns
    derive from the log ``time``."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if partition_completed:
            from duo_spark.sources.store import with_partition_cols

            batch = with_partition_cols(batch, "time", "minute")
        _publish_version(spark, batch, f"{out_dir}/completed", batch_id)
        if on_batch is not None:
            on_batch(spark, batch_id)

    return process


def _publish_version(spark, df: DataFrame, root: str, batch_id: int) -> None:
    """Write ``df`` as version ``root/v=<batch_id>``, staged under a
    hidden ``.tmp`` dir and published atomically (:func:`_publish_dir`)."""
    df.write.mode("overwrite").parquet(f"{root}/.tmp-{batch_id}")
    _publish_dir(spark, f"{root}/.tmp-{batch_id}", f"{root}/v={batch_id}")


def _publish_dir(spark, tmp: str, dest: str) -> None:
    """Atomically publish a version directory: rename the hidden
    ``.tmp-*`` staging dir (invisible to _version_ids and to Spark
    listings) onto ``dest``. Round-13 soak fix (probe 41): writing
    ``v=N`` in place let a concurrent read_open/read_completed list a
    half-written version and fail mid-scan.

    A pre-existing dest is a REPLAYED batch overwriting its own
    version (exactly-once contract). Round-14 fix (ADVICE r13): the
    old delete-then-rename left dest ABSENT for the full recursive
    delete — a concurrent read_open could miss the only open version.
    Now the old version is renamed ASIDE first (hidden ``.old-N``,
    invisible to listings), so the absence window shrinks from a
    recursive delete to the gap between two metadata renames; the
    aside is deleted only after the new version has landed. Hadoop
    FileSystem.rename moves src INTO an existing dest dir rather than
    over it, so rename-aside (not rename-overwrite) is the only safe
    primitive here."""
    from duo_spark.streaming.rollup import _fs

    fs, tmp_p = _fs(spark, tmp)
    dest_p = _fs(spark, dest)[1]
    aside_p = None
    if fs.exists(dest_p):
        head, tail = dest.rsplit("/", 1)
        aside_p = _fs(spark, f"{head}/.old-{tail}")[1]
        if fs.exists(aside_p):
            fs.delete(aside_p, True)
        if not fs.rename(dest_p, aside_p):
            fs.delete(tmp_p, True)
            raise RuntimeError(
                f"atomic publish: rename-aside {dest} failed (fs race?)"
            )
    if not fs.rename(tmp_p, dest_p):
        # put the old version back before surfacing: readers keep a
        # consistent (stale) view rather than none at all
        if aside_p is not None:
            fs.rename(aside_p, dest_p)
        fs.delete(tmp_p, True)
        raise RuntimeError(f"atomic publish {tmp} -> {dest} failed")
    if aside_p is not None:
        fs.delete(aside_p, True)


def _write_wm(spark, out_dir: str, batch_id: int, wm: int, *,
              at: str | None = None) -> None:
    """Persist the event-time high-water mark INSIDE the open version
    dir (underscore-prefixed: parquet readers skip it; version pruning
    removes it with its version). ``at`` overrides the target dir so
    the sidecar can land in the staging dir BEFORE the atomic rename
    publishes the version."""
    from duo_spark.streaming.rollup import _fs

    fs, p = _fs(spark, f"{at or f'{out_dir}/open/v={batch_id}'}/_wm.json")
    stream = fs.create(p, True)
    try:
        stream.write(bytearray(str(int(wm)).encode("utf-8")))
    finally:
        stream.close()


def _read_wm(spark, out_dir: str, vid: int | None) -> int | None:
    from duo_spark.streaming.rollup import _fs

    if vid is None:
        return None
    fs, p = _fs(spark, f"{out_dir}/open/v={vid}/_wm.json")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return int(bytes(data).decode("utf-8"))


def _first_completion_wins(parts: list[tuple[DataFrame, int]]) -> DataFrame:
    """Union completed versions and dedup by id keeping the row from
    the LOWEST version — the row merged while the span's open state
    was still present (a later duplicate/late close carries only its
    own batch's partial fields). One min_by hash aggregate; with no
    duplicates it is the identity on the union."""
    tagged = [df.withColumn("_v", F.lit(int(v))) for df, v in parts]
    out = tagged[0]
    for t in tagged[1:]:
        out = out.unionByName(t)
    cols = [c for c in out.columns if c not in ("id", "_v")]
    return (
        out.groupBy("id")
        .agg(F.min_by(F.struct(*cols), F.col("_v")).alias("_s"))
        .select("id", *[F.col(f"_s.{c}").alias(c) for c in cols])
    )


def _combine(parts: list[tuple[DataFrame, int]], dedup: bool) -> DataFrame:
    """One frame over the listed versions: first-completion-wins for
    spans; for logs (``dedup=False``) a by-name union that fills a
    user field a version predates with null (log schema drift)."""
    if dedup:
        return _first_completion_wins(parts)
    out = parts[0][0]
    for df, _ in parts[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


class CompletedVersions(NamedTuple):
    """The versions a read of a versioned table (completed spans, or
    logs) sees."""

    #: newest compacted snapshot id, None before the first compaction
    snapshot: int | None
    #: sorted delta version ids above the snapshot
    deltas: tuple[int, ...]
    #: modification time of each listed version dir (snapshot first): a
    #: replayed batch rewrites its own version in place (_publish_dir),
    #: which changes no id but does change its dir's time
    stamps: tuple[int, ...]


def completed_versions(spark, out_dir: str) -> CompletedVersions:
    """List a versioned table: one listing of ``compacted/`` and one
    of ``completed/``, no Spark job. Equal values mean a read sees the
    same files, so the value doubles as the table's store key (one
    ``DuoEngine`` generation per key)."""
    snaps = _version_stamps(spark, f"{out_dir}/compacted")
    snapshot = max(snaps, default=None)
    listed = _version_stamps(spark, f"{out_dir}/completed")
    deltas = tuple(sorted(v for v in listed if snapshot is None or v > snapshot))
    head = () if snapshot is None else (snaps[snapshot],)
    return CompletedVersions(snapshot, deltas, head + tuple(listed[v] for v in deltas))


def read_completed(
    spark, out_dir: str, *, dedup: bool = True, versions: CompletedVersions | None = None
) -> DataFrame:
    """All spans completed so far: the newest compacted snapshot (if
    :func:`compact_completed` has run) plus every delta version above
    it — exactly-once: a replayed batch overwrites its own version,
    compaction never folds in versions a replay could still rewrite,
    and a late duplicate close dedups first-completion-wins (the
    snapshot counts as the earliest version). The dedup is one hash
    aggregate over snapshot+deltas; compaction keeps the snapshot
    side pre-deduped. ``dedup=False`` reads the log table, whose rows
    have no id to dedup: the versions are unioned by name
    (:func:`_combine`).

    Versions read with partition-value type inference off: the K1
    columns inside a partitioned version come back as the same strings
    the batch store reads, so partitioned and flat versions union.

    ``versions`` reads exactly those listed versions (a store key from
    :func:`completed_versions`) instead of listing again, so the frame
    matches its key even if a version is published meanwhile."""
    if versions is None:
        versions = completed_versions(spark, out_dir)
    parts: list[tuple[DataFrame, int]] = []
    if versions.snapshot is not None:
        parts.append(
            (read_uninferred(spark, f"{out_dir}/compacted/v={versions.snapshot}"), -1)
        )
    for v in versions.deltas:
        parts.append((read_uninferred(spark, f"{out_dir}/completed/v={v}"), v))
    if not parts:
        raise FileNotFoundError(f"no completed-span versions under {out_dir}")
    if len(parts) == 1:
        # one version (a pre-deduped snapshot, or a single delta whose
        # ids are unique by construction): the dedup is the identity —
        # skip its shuffle and return the bare scan
        return parts[0][0]
    return _combine(parts, dedup)


def compact_completed(
    spark, out_dir: str, retain_latest: int = 2, *, dedup: bool = True
) -> int | None:
    """Fold old completed-delta versions into one snapshot — the
    small-files fix for long-running ingest (a 60 s tick writes ~1,440
    tiny delta dirs/day; scans degrade with file count, not data).
    ``dedup`` is :func:`read_completed`'s: False folds the log table.

    Keeps the newest ``retain_latest`` deltas out of the snapshot:
    only batches at/after the last committed checkpoint can ever be
    replayed (and replay OVERWRITES its own version), so folding a
    version that could still be rewritten would freeze its pre-replay
    content. Crash-safe ordering: the new snapshot (old snapshot +
    folded deltas) is written to a temp dir and atomically renamed to
    ``compacted/v=<upto>`` BEFORE any delta is deleted — a crash at
    any point leaves readers with either the old snapshot + all
    deltas, or the new snapshot (+ not-yet-deleted deltas it
    supersedes, which read_completed ignores by version).

    Reader grace (round-13 soak fix, probe 41): a concurrent
    read_completed holds a LAZY plan over versions it listed — an
    immediate delete of the just-superseded state made that plan fail
    at action time mid-soak. Deletion is therefore DEFERRED one
    compaction cycle: this call deletes only state the PREVIOUS
    snapshot already superseded (old deltas <= prev snapshot id, and
    snapshots older than the previous one), so any in-flight reader
    that listed within the last full compaction cycle scans files
    that still exist. A reader must out-live TWO compaction cycles
    to fail — and never sees wrong data either way (read_completed
    ignores superseded versions by id).

    Returns the new snapshot's version id, or None if there was
    nothing to compact."""
    from duo_spark.streaming.rollup import _fs

    cvid, deltas, _ = completed_versions(spark, out_dir)
    fold = deltas[:-retain_latest] if retain_latest > 0 else deltas
    upto = fold[-1] if fold else None
    fs = _fs(spark, out_dir)[0]
    if fold:
        parts: list[tuple[DataFrame, int]] = []
        if cvid is not None:
            parts.append(
                (read_uninferred(spark, f"{out_dir}/compacted/v={cvid}"), -1)
            )
        for v in fold:
            parts.append((read_uninferred(spark, f"{out_dir}/completed/v={v}"), v))
        merged = _combine(parts, dedup)
        tmp = f"{out_dir}/compacted/.tmp-{upto}"
        if "date" in merged.columns:
            # deltas from the persistent pipelines carry the K1
            # partition columns as data — the snapshot is where the
            # directory fan-out is PAID (once, not per micro-batch;
            # round-8 probe 19): a real partitioned + bloom-sized layout
            # that time-windowed readers prune, repartitioned so each
            # dir gets one file per compaction
            from duo_spark.sources.store import bloom_options

            part_cols = [c for c in ("date", "hour", "minute") if c in merged.columns]
            bloom_options(
                merged.repartition(*[F.col(c) for c in part_cols])
                .write.mode("overwrite")
                .partitionBy(*part_cols)
            ).parquet(tmp)
        else:
            merged.write.mode("overwrite").parquet(tmp)
        tmp_path = _fs(spark, tmp)[1]
        if not fs.rename(tmp_path, _fs(spark, f"{out_dir}/compacted/v={upto}")[1]):
            # Hadoop rename signals failure by RETURNING FALSE (dest
            # already exists from a racing compaction, or an fs error)
            # — proceeding would delete state the new snapshot never
            # captured. Leave everything (old snapshot + all deltas)
            # intact and surface the failure.
            fs.delete(tmp_path, True)
            raise RuntimeError(
                f"compact_completed: rename {tmp} -> v={upto} failed; "
                "no versions were deleted (racing compaction?)"
            )
    # deferred deletion (reader grace, one full compaction cycle), also
    # when nothing new was folded: keep the newest two snapshots and
    # the deltas the previous one did NOT supersede; drop only state
    # the PREVIOUS snapshot already covered
    if cvid is not None:
        _prune_versions(spark, f"{out_dir}/compacted", keep=(cvid, upto))
        for v in _version_ids(spark, f"{out_dir}/completed"):
            if v <= cvid:
                fs.delete(_fs(spark, f"{out_dir}/completed/v={v}")[1], True)
    return upto


def read_open(spark, out_dir: str) -> DataFrame:
    """Current open (incomplete) spans, unresolved tag pairs dropped."""
    vid = _latest_id(spark, f"{out_dir}/open")
    if vid is None:
        raise FileNotFoundError(f"no open-span versions under {out_dir}")
    return spark.read.parquet(f"{out_dir}/open/v={vid}").drop("_pairs")
