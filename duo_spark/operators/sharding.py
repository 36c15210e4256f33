"""Token-budget sharding: pack an ordered corpus into shards of ~N
tokens each — the step between a cleaned corpus and a training run
(shard files are the unit of data-loader parallelism).

The natural formulation is a global running sum of token counts in
document order, and the naive Spark plan for that is
``Window.orderBy(...)`` with NO partition spec — a single-partition
sort of the entire corpus, the canonical 100 TB scale-killer. This
module does the classic two-level decomposition instead:

1. range-repartition by the order column (Spark's RangePartitioner
   indexes partitions in key order) and sort within partitions;
2. one tiny job aggregates per-partition token totals — numPartitions
   rows — which the driver turns into exclusive partition offsets;
3. a per-partition window (partitionBy spark_partition_id) computes
   local running sums, shifted by the broadcast offsets.

Total cost: one range shuffle + one O(partitions) driver round-trip.
No global sort anywhere.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from duo_spark.operators.materialize import checkpoint


def with_running_total(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """INCLUSIVE running sum of ``value_col`` in ``order_col`` order.

    ``order_col`` must be a total order (unique values) — equal keys
    land in one range partition but their intra-key order would be
    undefined. Input is materialized once (localCheckpoint) because
    the offsets job and the window job would otherwise recompute the
    whole upstream plan twice.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = checkpoint(
        df.repartitionByRange(n, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
    )
    totals = {
        int(r["_pid"]): int(r["_t"])
        for r in d.groupBy("_pid").agg(F.sum(value_col).alias("_t")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    # sentinel entry keeps the map literal well-typed when df is empty
    entries = list(offsets.items()) or [(-1, 0)]
    off = F.create_map(*[F.lit(x) for kv in entries for x in kv])
    w = Window.partitionBy("_pid").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        d.withColumn(
            out_col,
            F.sum(value_col).over(w)
            + F.coalesce(off[F.col("_pid")], F.lit(0)).cast("long"),
        )
        .drop("_pid")
    )


def pack_token_shards(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    shard_col: str = "shard_id",
) -> DataFrame:
    """Assign each document a shard id so every shard holds ~``budget``
    tokens of consecutive (by ``id_col``) documents.

    Next-fit-by-offset packing: a document starting at global token
    offset ``o`` goes to shard ``o div budget``. Deterministic, one
    pass, and every shard's token count is within one document of the
    budget — the standard large-corpus packing rule (exact bin-close
    packing is inherently sequential and not worth a serial pass at
    100 TB).
    """
    out = with_running_total(df, id_col, tokens_col, "_rt")
    start = F.col("_rt") - F.col(tokens_col)
    # integer `div`, not float floor — exact at any offset magnitude
    return (
        out.withColumn("_start", start)
        .withColumn(shard_col, F.expr(f"_start div {int(budget)}"))
        .drop("_rt", "_start")
    )


def pack_sequences(
    df: DataFrame,
    capacity: int,
    num_shards: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """Next-fit sequence packing: place documents into training
    sequences ("bins") of at most ``capacity`` tokens, never splitting
    a document — the step that turns a cleaned corpus into fixed-size
    context windows for an LLM data loader.

    Unlike :func:`pack_token_shards` (offset bucketing, documents may
    straddle a boundary), bin-close packing has a true sequential
    dependency: where sequence i+1 starts depends on how full sequence
    i was. The distributed shape is therefore two-level:

    - documents are hash-sharded by ``id_col % num_shards`` (a
      deterministic, oracle-replayable partitioner);
    - within a shard, a single sequential next-fit pass runs in one
      ``applyInPandas`` task over documents in ``id_col`` order.

    Parallelism is across shards — pick ``num_shards`` so one shard's
    (id, n_tokens) pairs fit a task (~tens of millions of rows); the
    per-shard pass itself is O(rows) with no Spark shuffle beyond the
    one hash exchange. A document longer than ``capacity`` gets a
    sequence of its own (standard next-fit: it is placed, overflowing
    its bin, and the next document opens a new bin).

    Output: (id_col, shard, seq, seq_fill) — ``seq`` is the bin index
    within the shard, ``seq_fill`` the bin's running token total after
    this document.
    """
    if capacity <= 0 or num_shards <= 0:
        raise ValueError("capacity and num_shards must be positive")

    cap = int(capacity)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        seqs, fills = [], []
        seq, fill = 0, 0
        for tok in pdf[tokens_col].astype("int64"):
            if fill > 0 and fill + tok > cap:
                seq, fill = seq + 1, 0
            fill += int(tok)
            seqs.append(seq)
            fills.append(fill)
        out = pd.DataFrame(
            {
                id_col: pdf[id_col],
                "shard": pdf["_shard"],
                "seq": pd.Series(seqs, dtype="int64"),
                "seq_fill": pd.Series(fills, dtype="int64"),
            }
        )
        return out

    shard = (F.col(id_col) % F.lit(int(num_shards))).cast("long")
    return (
        df.select(F.col(id_col), F.col(tokens_col), shard.alias("_shard"))
        .groupBy("_shard")
        .applyInPandas(pack, schema=f"{id_col} long, shard long, seq long, seq_fill long")
    )


def keyed_row_number(
    df: DataFrame,
    key: str,
    order_cols: list,
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-key 1-based rank in ``order_cols`` order WITHOUT a per-key
    window — the keyed generalization of :func:`with_running_total`'s
    two-level trick, for ranking a FEW HUGE keys (where
    ``Window.partitionBy(key)`` serializes each key through one task).

    Events range-partition by (key, *order), so one key's rows spread
    over many chunks; each chunk computes local row numbers and the
    driver turns per-(chunk, key) counts (≤ partitions + keys rows)
    into exclusive offsets. (key, *order) must be a total order —
    equal sort keys land in one chunk but their relative rank would
    be partitioner-dependent across reruns.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    d = checkpoint(
        df.repartitionByRange(n, F.col(key), *order_cols)
        .sortWithinPartitions(F.col(key), *order_cols)
        .withColumn("_pid", F.spark_partition_id())
    )
    counts = d.groupBy("_pid", key).agg(F.count(F.lit(1)).alias("_c")).collect()
    seen: dict = {}
    offsets: dict = {}
    for r in sorted(counts, key=lambda r: (str(r[key]), r["_pid"])):
        k = r[key]
        offsets[(r["_pid"], k)] = seen.get(k, 0)
        seen[k] = seen.get(k, 0) + int(r["_c"])
    entries = list(offsets.items()) or [((-1, ""), 0)]
    off = F.create_map(
        *[x for (pid, k), v in entries for x in (F.lit(f"{pid}|{k}"), F.lit(v))]
    )
    lw = Window.partitionBy("_pid", key).orderBy(*order_cols)
    # offset must stay long: a single key exceeding 2^31 rows would
    # silently wrap an int32 offset (ANSI off) into wrong/negative ranks
    rn = F.row_number().over(lw).cast("long") + F.coalesce(
        off[F.concat_ws("|", F.col("_pid").cast("string"), F.col(key).cast("string"))],
        F.lit(0),
    ).cast("long")
    return d.withColumn(out_col, rn.cast("long")).drop("_pid")


def ntile_by_key(
    df: DataFrame,
    key: str,
    order_cols: list,
    tiles: int,
    out_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """SQL NTILE semantics per key — the first (count mod tiles)
    buckets get the extra row — computed from the chunked
    :func:`keyed_row_number` plus per-key totals, in closed form:
    parallelism is chunk count, never key count (exact NTILE through
    ``Window.partitionBy(key)`` serializes each key; see the
    service_concurrency probe in SCALING.md for the same failure
    mode).
    """
    if tiles < 1:
        raise ValueError(f"tiles must be >= 1, got {tiles}")
    ranked = keyed_row_number(df, key, order_cols, "_rn", num_partitions)
    totals = ranked.groupBy(key).agg(F.max("_rn").alias("_tot"))
    big = F.ceil(F.col("_tot") / tiles).cast("long")          # size of the fat buckets
    nbig = (F.col("_tot") % tiles).cast("long")               # how many are fat
    small = (F.col("_tot") / tiles).cast("long")              # integer floor
    cut = nbig * big                                          # rows in fat buckets
    tile = F.when(
        F.col("_rn") <= cut, F.ceil(F.col("_rn") / big)
    ).otherwise(nbig + F.ceil((F.col("_rn") - cut) / F.greatest(small, F.lit(1))))
    return (
        ranked.join(F.broadcast(totals), key)
        .withColumn(out_col, tile.cast("int"))
        .drop("_rn", "_tot")
    )


def packing_stats(
    packed: DataFrame,
    capacity: int,
    shard_col: str = "shard",
    seq_col: str = "seq",
    fill_col: str = "seq_fill",
) -> DataFrame:
    """Dataset-card efficiency report over a :func:`pack_sequences`
    result (round 8): how much of the training context window the
    packing actually fills — the number a data team watches when
    choosing capacity (padding waste is paid on every training step
    forever).

    Per shard: ``(shard, n_docs, n_seqs, total_tokens, utilization,
    p50_fill, min_fill)`` where utilization = total_tokens /
    (n_seqs · capacity) rounded to 6 dp and fills are each sequence's
    FINAL running total (max of ``fill_col`` within the sequence).
    Two map-side-combined hash aggregates — per-(shard, seq) finals,
    then per-shard stats; shuffle carries one row per sequence.
    """
    per_seq = packed.groupBy(shard_col, seq_col).agg(
        F.count(F.lit(1)).alias("_docs"),
        F.max(fill_col).alias("_fill"),
    )
    return per_seq.groupBy(shard_col).agg(
        F.sum("_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_seqs"),
        F.sum("_fill").alias("total_tokens"),
        F.round(
            F.sum("_fill").cast("double")
            / (F.count(F.lit(1)) * F.lit(int(capacity))).cast("double"),
            6,
        ).alias("utilization"),
        F.expr("percentile(_fill, 0.5)").alias("p50_fill"),
        F.min("_fill").alias("min_fill"),
    )
