"""Continuously-maintained rollup table (incremental view
maintenance): a streaming materialized GROUP BY backed by parquet.

Structured Streaming's complete-mode aggregations only reach memory/
console sinks, and append-mode parquet can't update a group's row —
so a continuously-updated rollup TABLE needs the foreachBatch
merge pattern: each micro-batch computes its partial aggregate and
merges it into the previous table version with a full-outer
coalesce-combine. Only decomposable aggregates (count/sum/min/max)
are supported — exactly the ones whose partials merge associatively,
so merging per batch equals aggregating the whole stream at once
(pinned against the batch GROUP BY in tests and the oracle gate).

Versioning gives replay idempotency for free, the same discipline as
streaming/dedup.py: batch ``b`` writes ``v=<b>`` and READS the newest
version strictly below ``b`` — a replayed batch (crash after the
write, before the checkpoint commit) re-merges into its true
predecessor instead of double-counting its own output. Old versions
are pruned after the write (keeping the predecessor), so steady state
holds two versions on disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.sources.store import hadoop_fs

#: supported decomposable aggregates and their merge functions.
#: sum must preserve NULL-ness: an all-NULL input column aggregates to
#: NULL in the one-shot batch GROUP BY, so merging two NULL partials
#: must stay NULL (a plain coalesce-to-0 merge would make the result
#: depend on the batch schedule). least/greatest skip NULLs natively;
#: count partials are never NULL.
_MERGES = {
    "sum": lambda a, b: F.when(
        a.isNull() & b.isNull(), F.lit(None)
    ).otherwise(F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))),
    "count": lambda a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    "min": F.least,
    "max": F.greatest,
}


def streaming_rollup(
    stream: DataFrame,
    group_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    out_dir: str,
    checkpoint_dir: str,
):
    """Maintain ``out_dir`` as the rolling GROUP BY of the stream.

    ``aggs`` maps output column -> (agg, input column), agg in
    {count, sum, min, max} (count ignores its input column). Read the
    current table with :func:`read_rollup`. Returns the started query
    (availableNow; caller awaits).
    """
    bad = [k for k, (a, _c) in aggs.items() if a not in _MERGES]
    if bad or not aggs:
        raise ValueError(f"unsupported/empty aggs: {bad or aggs}")

    def agg_expr(name: str) -> F.Column:
        a, c = aggs[name]
        if a == "count":
            return F.count(F.lit(1)).cast("long").alias(name)
        return getattr(F, a)(F.col(c)).alias(name)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        partial = batch.groupBy(*group_cols).agg(
            *[agg_expr(n) for n in aggs]
        )
        prev_id = _latest_id(spark, out_dir, below=batch_id)
        prev = (
            None
            if prev_id is None
            else spark.read.schema(partial.schema).parquet(f"{out_dir}/v={prev_id}")
        )
        if prev is None:
            merged = partial
        else:
            p = prev.select(
                *[F.col(c).alias(f"_p_{c}") for c in prev.columns]
            )
            cond = [partial[c].eqNullSafe(p[f"_p_{c}"]) for c in group_cols]
            joined = partial.join(p, cond, "full_outer")
            merged = joined.select(
                *[
                    F.coalesce(partial[c], p[f"_p_{c}"]).alias(c)
                    for c in group_cols
                ],
                *[
                    _MERGES[aggs[n][0]](p[f"_p_{n}"], partial[n]).alias(n)
                    for n in aggs
                ],
            )
        merged.write.mode("overwrite").parquet(f"{out_dir}/v={batch_id}")
        keep = (batch_id,) if prev_id is None else (batch_id, prev_id)
        _prune_versions(spark, out_dir, keep=keep)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _version_stamps(spark, out_dir: str) -> dict[int, int]:
    """Version id -> modification time (ms) of its ``v=<id>`` dir."""
    fs, root = hadoop_fs(spark, out_dir)
    if not fs.exists(root):
        return {}
    stamps = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("v="):
            try:
                stamps[int(name[2:])] = st.getModificationTime()
            except ValueError:
                continue
    return stamps


def _version_ids(spark, out_dir: str) -> list[int]:
    return sorted(_version_stamps(spark, out_dir))

def _latest_id(spark, out_dir: str, below: int | None = None) -> int | None:
    ids = _version_ids(spark, out_dir)
    if below is not None:
        ids = [i for i in ids if i < below]
    return ids[-1] if ids else None


def _prune_versions(spark, out_dir: str, keep: tuple[int, ...]) -> None:
    fs, _root = hadoop_fs(spark, out_dir)
    for vid in _version_ids(spark, out_dir):
        if vid not in keep:
            fs.delete(hadoop_fs(spark, f"{out_dir}/v={vid}")[1], True)


def read_rollup(spark, out_dir: str) -> DataFrame:
    """The current rollup table (newest version)."""
    vid = _latest_id(spark, out_dir)
    if vid is None:
        raise FileNotFoundError(f"no rollup versions under {out_dir}")
    return spark.read.parquet(f"{out_dir}/v={vid}")


# sketch rollups (round 8 — VERDICT r7 #6)
# ---------------------------------------------------------------------
#
# HLL and CMS register tables were DESIGNED mergeable (operators/
# sketch.py: max per register / sum per bucket), which makes them
# streaming aggregates for free: each micro-batch sketches itself
# (one map-side-combined hash aggregate, shuffle bounded by
# groups × m), then merges into the previous register-table version
# with the SAME fold the batch operators use — so the continuously
# maintained sketch is bit-identical to sketching the whole stream at
# once (pinned in tests and the streaming_hll_rollup gate). Versioning
# discipline is streaming_rollup's: batch b reads the newest version
# strictly below b and overwrites v=b, so replays are idempotent.


def _streaming_register_rollup(
    stream: DataFrame,
    partial_fn,
    key_cols: list[str],
    merge_aggs: dict,
    out_dir: str,
    checkpoint_dir: str,
):
    """Shared versioned-merge loop: ``partial_fn(batch)`` -> register
    table keyed by ``key_cols``; versions merge by unioning and
    re-aggregating each ``merge_aggs[col]`` (max for HLL registers,
    sum for CMS counts, per-column sums/min/max for moments) — all
    associative+commutative, so any batch schedule yields the
    whole-stream sketch."""

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        partial = partial_fn(batch)
        prev_id = _latest_id(spark, out_dir, below=batch_id)
        if prev_id is None:
            merged = partial
        else:
            prev = spark.read.schema(partial.schema).parquet(
                f"{out_dir}/v={prev_id}"
            )
            merged = (
                partial.unionByName(prev)
                .groupBy(*key_cols)
                .agg(
                    *[
                        agg(F.col(c)).alias(c)
                        for c, agg in merge_aggs.items()
                    ]
                )
            )
        merged.write.mode("overwrite").parquet(f"{out_dir}/v={batch_id}")
        keep = (batch_id,) if prev_id is None else (batch_id, prev_id)
        _prune_versions(spark, out_dir, keep=keep)

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hll_rollup(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    m: int = 256,
):
    """Continuously maintained per-group HLL register table: the
    incremental distinct-count rollup (operators/sketch.hll_sketch /
    hll_merge) running as a stream — yesterday's registers persist,
    today's union in with ``max``, and the estimate is available at
    any moment via ``read_rollup`` + ``hll_estimate`` WITHOUT
    re-reading any historical event. Returns the started availableNow
    query."""
    from duo_spark.operators.sketch import hll_sketch

    return _streaming_register_rollup(
        stream,
        lambda b: hll_sketch(b, group_cols, value_col, m),
        [*group_cols, "bucket"],
        {"register": F.max},
        out_dir,
        checkpoint_dir,
    )


def streaming_cms_rollup(
    stream: DataFrame,
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    w: int = 1024,
    d: int = 4,
    group_cols: list[str] | None = None,
    weight_col: str | None = None,
):
    """Continuously maintained count-min register table: per-batch
    sketches merge ADDITIVELY into the running one (operators/
    sketch.cms_merge's sum), so point estimates over the whole stream
    are one broadcast lookup away at any moment. Returns the started
    availableNow query."""
    from duo_spark.operators.sketch import cms_sketch

    g = list(group_cols or [])
    return _streaming_register_rollup(
        stream,
        lambda b: cms_sketch(
            b, value_col, w=w, d=d, weight_col=weight_col, group_cols=g
        ),
        [*g, "row", "bucket"],
        {"count": F.sum},
        out_dir,
        checkpoint_dir,
    )


def streaming_moments_rollup(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_dir: str,
    checkpoint_dir: str,
    scale: int = 100,
):
    """Continuously maintained moments sketch (round 8): per-batch
    DECIMAL power sums merged additively (n/m1..m4 sum, vmin/vmax
    min/max — operators/sketch.moments_merge's algebra), so
    mean/stddev/skew/p95 estimates over the WHOLE stream are one
    `moments_stats` call over a constant-width table at any moment.
    Returns the started availableNow query."""
    from duo_spark.operators.sketch import moments_sketch

    return _streaming_register_rollup(
        stream,
        lambda b: moments_sketch(b, group_cols, value_col, scale),
        group_cols,
        {
            "n": F.sum,
            "vmin": F.min,
            "vmax": F.max,
            "m1": F.sum,
            "m2": F.sum,
            "m3": F.sum,
            "m4": F.sum,
        },
        out_dir,
        checkpoint_dir,
    )
