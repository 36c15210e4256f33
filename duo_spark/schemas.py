"""Typed schemas for the engine-native tables.

Reference data model (duo-rs/duo):

- span table: duo/src/schema.rs:16-27 — fixed schema.
- log table:  duo/src/schema.rs:30-42 — fixed core + dynamically merged
  user fields (duo/src/arrow.rs:82-87). In Spark we represent the core
  columns as a fixed StructType and let extra fields ride as real
  top-level columns via parquet ``mergeSchema`` + ``unionByName``
  (allowMissingColumns) — schema evolution is built in, no custom merge
  code needed.
- process registry: duo/src/models.rs:10-15 — tiny dimension, broadcast.

Ids: the reference uses u64 ids but only ever generates random u32
widened to u64 (duo-subscriber/src/subscriber.rs:103), so LongType is a
faithful carrier. Foreign u64 >= 2^63 would be reinterpreted
(two's-complement) and formatted back to unsigned at the API edge.

Timestamps are Int64 MICROSECONDS since epoch (duo/src/models.rs:61-63,
duo/src/arrow.rs:24), kept as LongType for fidelity; derive a
TimestampType column only when window/event-time ops need one.

Fixture tables: the ten TPC-H-like driver tables the query registry
reads (``queries._t``) are declared here too, as
:data:`FIXTURE_SCHEMAS`, each equal to what Spark infers from the
fixture files (``timestamp[us]`` columns as ``timestamp_ntz``,
``embedding`` as ``array<float>``). A read with a declared schema plans
with no footer-inference Spark job; the declaration is the contract,
and a fixture file of another layout fails at read time. The older
``events.ts`` layout, parquet TIMESTAMP(NANOS), is the one exception
``_t`` recognises (from the file footer, no Spark job).
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Span table — duo/src/schema.rs:16-27
SPAN_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("parent_id", T.LongType(), True),  # null => root span
        T.StructField("trace_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("process_id", T.StringType(), False),  # "{service}-{n}"
        T.StructField("start", T.LongType(), False),  # µs since epoch
        T.StructField("end", T.LongType(), True),  # µs; null only pre-completion
        T.StructField("tags", T.StringType(), True),  # JSON object string
    ]
)

#: Log table fixed core — duo/src/schema.rs:30-42. Extra user fields are
#: appended as real columns per batch (schema evolution).
LOG_CORE_SCHEMA = T.StructType(
    [
        T.StructField("process_id", T.StringType(), False),
        T.StructField("time", T.LongType(), False),  # µs since epoch
        T.StructField("trace_id", T.LongType(), True),
        T.StructField("span_id", T.LongType(), True),
        T.StructField("level", T.StringType(), False),  # ERROR..TRACE
        T.StructField("target", T.StringType(), True),
        T.StructField("file", T.StringType(), True),
        T.StructField("line", T.IntegerType(), True),
        T.StructField("message", T.StringType(), True),
    ]
)

#: Process registry — duo/src/models.rs:10-15
PROCESS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType(), False),  # "{service}-{seq}"
        T.StructField("service_name", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

#: Log levels, most to least severe — duo-api proto common.proto Level
LEVELS = ("ERROR", "WARN", "INFO", "DEBUG", "TRACE")


def _fixture(*fields: tuple[str, T.DataType]) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


_L, _I, _D, _S = T.LongType(), T.IntegerType(), T.DoubleType(), T.StringType()
_TS = T.TimestampNTZType()

#: The driver's fixture tables (``<sf_dir>/<name>.parquet``), as Spark
#: infers them — see "Fixture tables" above
FIXTURE_SCHEMAS = {
    "customer": _fixture(("c_custkey", _L), ("c_name", _S), ("c_nationkey", _I),
                         ("c_acctbal", _D), ("c_mktsegment", _S)),
    "documents": _fixture(("doc_id", _L), ("text", _S), ("lang", _S), ("source", _S),
                          ("n_chars", _L)),
    "embeddings": _fixture(("vec_id", _L), ("embedding", T.ArrayType(T.FloatType(), True)),
                           ("label", _I)),
    "events": _fixture(("event_id", _L), ("ts", _TS), ("user_id", _L), ("event_type", _S),
                       ("value", _D), ("props", _S)),
    "lineitem": _fixture(("l_orderkey", _L), ("l_partkey", _L), ("l_suppkey", _L),
                         ("l_linenumber", _I), ("l_quantity", _D), ("l_extendedprice", _D),
                         ("l_discount", _D), ("l_tax", _D), ("l_returnflag", _S),
                         ("l_linestatus", _S), ("l_shipdate", _TS)),
    "nation": _fixture(("n_nationkey", _I), ("n_name", _S), ("n_regionkey", _I)),
    "orders": _fixture(("o_orderkey", _L), ("o_custkey", _L), ("o_orderstatus", _S),
                       ("o_totalprice", _D), ("o_orderdate", _TS), ("o_orderpriority", _S)),
    "part": _fixture(("p_partkey", _L), ("p_name", _S), ("p_brand", _S), ("p_type", _S),
                     ("p_size", _I), ("p_retailprice", _D)),
    "region": _fixture(("r_regionkey", _I), ("r_name", _S)),
    "supplier": _fixture(("s_suppkey", _L), ("s_name", _S), ("s_nationkey", _I),
                         ("s_acctbal", _D)),
}
