"""Structured-Streaming ingest pipeline (SURVEY §2.9 T1-T5).

The reference is a hand-rolled micro-batch loop
(duo/src/grpc/server.rs:27-121): a 1 s tick drains buffers into memory
batches, a 10 s timer writes an Arrow-IPC WAL, a 60 s timer flushes
minute-partitioned parquet; span records are upsert-merged by an
aggregator (duo/src/aggregator.rs:17-39) that withholds spans
until their close record arrives.

Spark mapping — all of T1-T3's machinery is the Structured Streaming
runtime itself:

  T1 (1 s tick)      -> trigger(processingTime=...) micro-batches
  T2 (10 s WAL)      -> checkpointLocation write-ahead state (built in)
  T3 (60 s parquet)  -> foreachBatch versioned delta log per table,
                        folded into date/hour/minute snapshots
  T4 (span merge)    -> JVM foreachBatch partial-merge
                        (streaming/merge.py) — one hash aggregate +
                        versioned open-span merge per batch; open spans
                        are held until their close arrives, as in the
                        reference
  T5 (memory mode)   -> the same tables under the scratch root,
                        served as refreshed temp views
"""

from duo_spark.streaming.pipeline import (
    replay_span_records,
    start_log_pipeline,
    start_span_pipeline,
)
from duo_spark.streaming.rollup import (
    read_rollup,
    streaming_cms_rollup,
    streaming_hll_rollup,
    streaming_moments_rollup,
    streaming_rollup,
)

__all__ = [
    "read_rollup",
    "replay_span_records",
    "start_log_pipeline",
    "start_span_pipeline",
    "streaming_cms_rollup",
    "streaming_hll_rollup",
    "streaming_moments_rollup",
    "streaming_rollup",
]
