"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
config here is chosen to also hold on a large multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) so shuffle partition
  counts self-correct as data scales 100-1000x.
- shuffle.partitions is a *starting* hint; AQE coalesces down for small
  inputs and the skew-join rule splits hot keys for large ones.
- Arrow enabled for the pandas-UDF edges (the only place Python touches
  row data).
- Session timezone pinned to UTC so timestamp semantics are stable and
  oracle-comparable (DuckDB timestamps are UTC-naive).
- PySpark's per-call origin capture off
  (``spark.python.sql.dataFrameDebugging.enabled``): with it on, every
  ``F.*``/Column call on a thread with an active session makes about
  20 extra py4j round trips to record its Python call site. The cost:
  an analysis error no longer names the Python line that built the
  failing expression.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "duo_spark", **extra_conf: str) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``extra_conf`` entries override defaults — useful in tests.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # let the planner pick shuffled-hash over sort-merge when its
        # size conditions hold, and let AQE convert SMJ→SHJ at runtime
        # when every post-shuffle partition fits the local-map budget
        # (guide-recommended; default 0 disables the AQE rewrite).
        # Scale-safe by construction: the conversion is bounded per
        # partition, so a build side that outgrows the budget stays
        # sort-merge. Threshold overridable for cluster tuning.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64MB"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # scalar @udf paths (none hot today — fold_idn only) cross the
        # boundary as Arrow batches instead of pickled rows
        .config("spark.sql.execution.pythonUDF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # serves only the legacy events.ts layout, parquet
        # TIMESTAMP(NANOS), which Spark reads as an ns-epoch long behind
        # this conf (queries._t sets it too when it meets that layout);
        # the repo's fixtures store events.ts as µs
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # aggressive broadcast: dimension tables (process registry,
        # nation/region analogs) are tiny even at 100 TB fact scale
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
