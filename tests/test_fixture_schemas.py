"""Declared fixture schemas (``schemas.FIXTURE_SCHEMAS``): each equals
what Spark infers from the fixture files, ``queries._t`` reads every
table with no Spark job, it is the only reader of a fixture, and the
legacy TIMESTAMP(NANOS) ``events.ts`` layout answers like the µs one."""

from __future__ import annotations

import glob
import inspect
import os
import pathlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duo_spark import queries
from duo_spark.schemas import FIXTURE_SCHEMAS


def test_declared_schemas_equal_inferred(spark, sf_dir, tmp_path):
    """Every fixture table present, in every scale directory next to the
    test fixtures and in the benchmark's generated library tables, reads
    with the declared schema that Spark infers from it."""
    from perfbench.gen import library_tables

    library_tables(7, str(tmp_path))
    dirs = sorted(glob.glob(os.path.join(os.path.dirname(sf_dir), "sf*"))) + [str(tmp_path)]
    checked, wrong = 0, []
    for d in dirs:
        for name, declared in FIXTURE_SCHEMAS.items():
            path = f"{d}/{name}.parquet"
            if os.path.exists(path):
                checked += 1
                inferred = spark.read.parquet(path).schema
                if inferred != declared:
                    wrong.append((path, inferred.simpleString()))
    assert wrong == []
    assert checked >= len(FIXTURE_SCHEMAS) + 4  # one scale dir + the library's four


def test_fixture_reads_start_no_job(spark, sf_dir, jobs_in):
    """``_t`` plans each table from its declared schema: no inference
    job (1 per read before the schemas were declared)."""
    jobs = {name: jobs_in(lambda n=name: queries._t(spark, sf_dir, n))[1]
            for name in FIXTURE_SCHEMAS}
    assert jobs == dict.fromkeys(FIXTURE_SCHEMAS, 0)


def test_one_fixture_reader():
    """Only ``queries._t`` reads a fixture table: no module under
    duo_spark/ builds an ``sf_dir`` parquet path or reads one elsewhere."""
    root = pathlib.Path(queries.__file__).resolve().parent
    src, start = inspect.getsourcelines(queries._t)
    inside_t = {("queries.py", start + i) for i in range(len(src))}
    banned = re.compile(r"\.parquet\(.*sf_dir|\{sf_dir\}/")
    hits = [
        f"{p.relative_to(root)}:{i}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line) and (str(p.relative_to(root)), i) not in inside_t
    ]
    assert hits == []


def test_legacy_nanos_events_answer_like_micros(spark, sf_dir, tmp_path):
    """An events file rewritten with ``ts`` as TIMESTAMP(NANOS) takes
    ``_t``'s legacy branch (a long read, normalized to a µs timestamp)
    and answers point_lookup, logs_search and the whole table's µs times
    exactly as the µs fixture does."""
    table = pq.read_table(f"{sf_dir}/events.parquet")
    i = table.schema.get_field_index("ts")
    pq.write_table(table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("ns"))),
                   tmp_path / "events.parquet")
    ns_dir = str(tmp_path)
    assert pq.read_schema(f"{ns_dir}/events.parquet").field("ts").type == pa.timestamp("ns")

    ns_events = queries._t(spark, ns_dir, "events")
    assert ns_events.schema["ts"].dataType == T.TimestampType()  # the legacy branch ran
    assert queries._t(spark, sf_dir, "events").schema["ts"].dataType == T.TimestampNTZType()

    def times(d):
        ev = queries._t(spark, d, "events")
        return sorted(ev.select("event_id", F.unix_micros(F.col("ts").cast("timestamp")))
                      .collect())

    want = times(sf_dir)
    assert len(want) == table.num_rows and times(ns_dir) == want
    for q in (queries.q_point_lookup, queries.q_logs_search):
        assert sorted(q(spark, ns_dir).collect()) == sorted(q(spark, sf_dir).collect())
    assert queries.q_logs_search(spark, sf_dir).count() > 0
