"""Span ingest merge (SURVEY §2.4 A4 / §1.4).

Reference: duo/src/aggregator.rs:17-39 — record_span fires at span open
AND close; the SpanAggregator merges records by id (later record wins
`end`, tags extend, parent_id coalesces) and only releases spans whose
`end` arrived. Batch form here; the streaming form (same merge rules)
lives in duo_spark.streaming.merge — the two agree on any record set,
which tests/test_streaming.py asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duo_spark.functions.codec import tags_variant


def merge_span_records(records: DataFrame) -> DataFrame:
    """Merge partial span records by id; emit only completed spans.

    Merge rules (duo/src/aggregator.rs:17-30):
      start     = earliest seen (open record)
      end       = latest non-null (close record wins)
      parent_id = first non-null
      tags      = union of all records' tags (later keys win)
      name/process_id/trace_id = any (identical across records)

    Map-side partial aggregation makes the shuffle O(open spans), and
    the whole merge is one hash aggregate — no stateful collect.
    """
    # variant values: the fold must keep each tag's JSON kind
    # (bool/number/string), not stringify it — see codec.tags_variant
    empty = F.create_map().cast("map<string,variant>")
    merged = (
        records.groupBy("id")
        .agg(
            # min() ignores nulls and is deterministic; for well-formed
            # span streams all records of an id agree on these fields,
            # so this equals the reference's "first seen" — but unlike
            # first() it's stable when records conflict
            F.min("trace_id").alias("trace_id"),
            F.min("parent_id").alias("parent_id"),
            F.min("name").alias("name"),
            F.min("process_id").alias("process_id"),
            F.min("start").alias("start"),
            F.max("end").alias("end"),
            # later records' tag keys overwrite earlier ones: fold the
            # records' tag maps in (start, raw-json) order — structs of
            # orderable scalars sort fine; parse JSON inside the fold
            F.aggregate(
                F.sort_array(
                    F.collect_list(F.struct(F.col("start").alias("o"), F.col("tags").alias("t")))
                ),
                empty,
                lambda acc, x: F.map_zip_with(
                    acc,
                    F.coalesce(tags_variant(x["t"]), empty),
                    lambda _k, v1, v2: F.coalesce(v2, v1),
                ),
            ).alias("_merged_tags"),
        )
        .withColumn("tags", F.to_json("_merged_tags"))
        .drop("_merged_tags")
    )
    return merged.filter(F.col("end").isNotNull())
