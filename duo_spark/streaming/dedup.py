"""Streaming exact deduplication: the continuous-ingest counterpart of
operators/dedup.py's batch dedup_exact.

A corpus built from a live feed can't batch-dedup after the fact — the
duplicate has to be dropped on arrival. Structured Streaming's
`dropDuplicatesWithinWatermark` keeps the FIRST arrival of each
content hash and holds the hash in the state store only until the
watermark passes its event time + the delay, so state is bounded by
the duplicate-arrival horizon, not the stream's lifetime — the same
state-vs-lateness contract as the session windows
(streaming/sessions.py).

State is hash-partitioned on the content hash: uniform by
construction (md5), so no key skew regardless of how hot any one
document is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duo_spark.operators.dedup import _hashed_shingles, _index_frames, normalize_text
from duo_spark.operators.materialize import scope
from duo_spark.sources.store import hadoop_fs


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str,
    time_col: str,
    watermark: str = "10 minutes",
    normalize: bool = True,
) -> DataFrame:
    """Drop rows whose (normalized) content was already seen within
    the watermark horizon; first arrival wins. ``time_col`` must be a
    timestamp column.

    Standard watermark contract applies: a row whose event time has
    already fallen behind the stream's watermark is dropped as late
    data (not emitted at all), so ``watermark`` must cover the
    worst-case event-time disorder of the feed, not just the desired
    duplicate-detection horizon."""
    content = normalize_text(text_col) if normalize else F.col(text_col)
    return (
        stream.withColumn("_h", F.md5(content))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def streaming_incremental_near_dup(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
):
    """Continuous corpus-level near-dup detection: every micro-batch is
    checked against the ENTIRE corpus seen so far, not just the
    watermark horizon — the streaming composition of
    `operators/dedup.py` minhash_index + incremental_near_duplicates.

    Per batch (foreachBatch, serialized by Structured Streaming):

    1. read the parquet LSH index accumulated by earlier batches
       (band rows + canonical hashed-shingle sets);
    2. emit exact-Jaccard pairs for batch↔corpus and batch↔batch to
       ``pairs_dir``;
    3. append the batch's own index rows to ``index_dir``.

    Every pair of documents is emitted exactly once — in the batch of
    its LATER member — so the accumulated pair set equals the batch
    ``minhash_near_duplicates`` over the full corpus on ANY batch
    schedule (pinned in tests and the oracle gate). All writes land
    under ``batch=<id>`` subdirectories with overwrite, and index reads
    filter to ``batch < batch_id``: a replayed batch (crash after the
    index append but before the checkpoint commit) therefore never sees
    its OWN band/set rows — which would double-emit every batch-internal
    pair — and never sees a torn bands-without-sets write, because the
    only partially-written batch id is the one being replayed.
    Idempotent without a transactional sink.

    Each batch runs in its own ``materialize.scope``: its shingle
    checkpoints are released once its writes are done.

    Returns the started StreamingQuery (caller awaits/stops).
    """
    from duo_spark.operators.dedup import incremental_near_duplicates, minhash_index

    def process(batch: DataFrame, batch_id: int) -> None:
        with scope():
            spark = batch.sparkSession
            empty_bands, empty_sets = _empty_index(
                batch, id_col, text_col, num_hashes, bands, shingle_n
            )
            # clean first-batch probe via the Hadoop FS (any scheme) — a
            # read-then-catch would log a WARN stack trace per batch
            fs, bands_path = hadoop_fs(spark, f"{index_dir}/bands")
            sets_path = hadoop_fs(spark, f"{index_dir}/sets")[1]

            def with_batch(schema):  # fresh copy — StructType.add mutates
                return T.StructType(
                    list(schema.fields) + [T.StructField("batch", T.LongType())]
                )

            # both dirs must exist (a crash between the bands and sets
            # writes of the FIRST batch leaves bands present, sets absent),
            # and batch < batch_id: a replayed batch must not probe its own
            # index rows (they'd re-emit every batch-internal pair in both
            # orientations), and the only batch id that can hold a torn
            # bands-without-sets write IS the replayed one
            if fs.exists(bands_path) and fs.exists(sets_path):
                idx_bands = (
                    spark.read.schema(with_batch(empty_bands.schema))
                    .parquet(f"{index_dir}/bands")
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
                idx_sets = (
                    spark.read.schema(with_batch(empty_sets.schema))
                    .parquet(f"{index_dir}/sets")
                    .filter(F.col("batch") < batch_id)
                    .drop("batch")
                )
            else:
                idx_bands, idx_sets = empty_bands, empty_sets
            pairs = incremental_near_duplicates(
                idx_bands, idx_sets, batch, id_col, text_col,
                threshold, num_hashes, bands, shingle_n,
            )
            pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch={batch_id}")
            b_bands, b_sets = minhash_index(
                batch, id_col, text_col, num_hashes, bands, shingle_n
            )
            b_bands.write.mode("overwrite").parquet(f"{index_dir}/bands/batch={batch_id}")
            b_sets.write.mode("overwrite").parquet(f"{index_dir}/sets/batch={batch_id}")

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _empty_index(batch, id_col, text_col, num_hashes, bands, shingle_n):
    """Empty ``(bands_df, sets_df)`` in the index's schemas (the first
    batch's index; the schemas the stored index is read with), planned
    lazily over ``batch.limit(0)``: no Spark job."""
    sh = _hashed_shingles(batch.limit(0), id_col, text_col, shingle_n)
    return _index_frames(sh, num_hashes, bands)
