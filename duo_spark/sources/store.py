"""Partitioned Parquet storage + hot/cold union (SURVEY §2.1 S1/S2/S4,
K1, U1; §4 hot/cold).

Reference layout (duo/src/partition/writer.rs:18-63):
  {root}/{table}/date=YYYY-MM-DD/hour=HH/minute=MM/{file}.parquet
with a parquet bloom filter on trace_id (writer.rs:44-49).

Spark mapping:
- K1 writer  -> df.write.partitionBy("date","hour","minute") with
  `parquet.bloom.filter.enabled#trace_id=true` — identical on-disk
  contract, but distributed.
- S2/S3 scan -> spark.read.parquet(table_root); filters on the
  partition columns prune directories in the Catalyst optimizer (no
  manual prefix math), and predicate pushdown + row-group stats +
  bloom filters prune within files (S4). The data schema is inferred
  once, then the read is planned with the partition columns declared
  strings: "hour=00" stays "00" (not int 0) without a session-wide
  conf switch, so a compaction that demotes a partition column to a
  data column changes no value.
- U1 hot∪cold -> unionByName(allowMissingColumns=True): the log schema
  drifts over time (new user fields), so positional union would be
  wrong; ByName fills missing columns with null, matching the
  reference's Schema::try_merge read behavior.

Scale notes: minute-grained dirs are right for the reference's 60 s
flush cadence, but at 100 TB/day minute dirs => ~1440*24 tiny dirs/day
and small-file pressure. The writer therefore takes a granularity knob
(minute | hour | date) and coalesces to a bounded file count per
partition; ``compact()`` rewrites a minute-grained table to hour (or
date) directories with the finer column demoted to a data column —
query results are identical (same columns, same values) and pruning on
the demoted column degrades gracefully to row-group min/max stats.

All filesystem metadata operations (exists / side-file JSON / the
compaction swap, and the versioned tables' listings and publishes in
``streaming/``) go through the Hadoop FileSystem API resolved from
the path's own scheme (:func:`hadoop_fs`), so the store works
unchanged against any configured object store (s3a://, gs://,
hdfs://...), matching the reference's object-store abstraction
(duo/src/config.rs:93-132, K4).

The engine's own span and log tables are versioned delta logs
(``streaming/merge.py``) that hold only their table's columns; K1
appears there only as the compacted snapshot's directories.
"""

from __future__ import annotations

import json
import posixpath
from dataclasses import dataclass

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duo_spark.functions.time import timestamp_from_us

PARTITION_COLS = ("date", "hour", "minute")

_GRAN_COLS = {"date": ["date"], "hour": ["date", "hour"], "minute": list(PARTITION_COLS)}


#: expected distinct trace_ids PER FILE for bloom sizing. Without
#: this, parquet-mr pre-allocates its MAX bitmap (1 MB) per file —
#: measured in round 8: a fast-pipeline delta version holding 7 MB of
#: span data weighed 5 GB because ~5,000 date-partitioned slivers each
#: carried the 1 MB floor. 50k NDV @ 1% FPR ≈ 60 KB per file — right
#: for minute-grained files; bump per-table for 128 MB+ compacted
#: files if their per-file trace cardinality is higher.
BLOOM_EXPECTED_NDV = 50_000


def bloom_options(writer, column: str = "trace_id"):
    """Apply the repo-wide bloom-filter write options (enable + size)."""
    return writer.option(
        f"parquet.bloom.filter.enabled#{column}", "true"
    ).option(
        f"parquet.bloom.filter.expected.ndv#{column}",
        str(BLOOM_EXPECTED_NDV),
    )


def hadoop_fs(spark: SparkSession, path: str):
    """Hadoop FileSystem for ``path``'s scheme (K4: local, s3a, gs,
    hdfs... — whatever the Hadoop conf knows), plus the Path. The class
    is built by name: resolving ``spark._jvm.org.apache...`` costs a
    py4j round trip per package hop (~2 ms), paid on every store-key
    listing of every HTTP request."""
    jpath = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def with_partition_cols(df: DataFrame, time_col: str, granularity: str = "minute") -> DataFrame:
    """Derive date/hour/minute partition columns from a µs-epoch column."""
    ts = timestamp_from_us(time_col)
    out = df.withColumn("date", F.date_format(ts, "yyyy-MM-dd"))
    if granularity in ("hour", "minute"):
        out = out.withColumn("hour", F.date_format(ts, "HH"))
    if granularity == "minute":
        out = out.withColumn("minute", F.date_format(ts, "mm"))
    return out


@dataclass
class PartitionedStore:
    """Reader/writer for one storage root holding span/log tables."""

    spark: SparkSession
    root: str
    granularity: str = "minute"

    def table_path(self, table: str) -> str:
        return posixpath.join(self.root, table)

    def write(self, df: DataFrame, table: str, time_col: str, mode: str = "append") -> None:
        """K1 — partitioned parquet sink with trace_id bloom filter.

        Rows are hash-repartitioned on the partition columns first so
        each directory receives at most ``spark.sql.shuffle.partitions``
        files per write (without this, every task writes a sliver into
        every directory it touches — tasks × partitions small files,
        the classic 100 TB/day small-file failure).

        Rows are additionally time-sorted WITHIN each file: parquet
        row-group min/max stats on ``time_col`` then slice the
        dominant time-windowed scans below partition granularity (a
        minute dir pruned to the row groups overlapping the window) —
        free at write time, since the repartition already shuffles."""
        cols = _GRAN_COLS[self.granularity]
        out = with_partition_cols(df, time_col, self.granularity)
        writer = (
            out.repartition(*[F.col(c) for c in cols])
            .sortWithinPartitions(*cols, time_col)
            .write.mode(mode)
            .partitionBy(*cols)
        )
        if "trace_id" in df.columns:
            writer = bloom_options(writer)
        writer.parquet(self.table_path(table))

    def read(self, table: str) -> DataFrame:
        """S2 — partition-discovering scan with mergeSchema so drifted
        log schemas unify (reference Schema::try_merge,
        duo/src/schema.rs:78-89).

        The partition columns come back as the exact strings they were
        written as ("hour=00" stays "00", not int 0), so results are
        invariant under compaction demoting them to data columns.
        """
        return self._read(self.table_path(table))

    def _read(self, *paths: str, base_path: str | None = None) -> DataFrame:
        """mergeSchema read of ``paths``: the data schema is inferred
        once (one footer job), then the read is planned again with that
        schema and the partition columns declared strings — no session
        conf is touched, so concurrent readers need no lock."""
        reader = self.spark.read.option("mergeSchema", "true")
        if base_path is not None:
            reader = reader.option("basePath", base_path)
        inferred = reader.parquet(*paths).schema
        declared = T.StructType([
            T.StructField(f.name, T.StringType()) if f.name in PARTITION_COLS else f
            for f in inferred.fields
        ])
        return reader.schema(declared).parquet(*paths)

    def read_range(
        self, table: str, start_us: int, end_us: int, time_col: str = "time"
    ) -> DataFrame:
        """S3 — bounded-listing time-range scan.

        Enumerates the minimal partition prefixes covering
        [start_us, end_us] (generate_prefixes — the reference's
        TimePeriod::generate_prefixes, duo/src/utils.rs:36-181,
        consumed by its multi-path reader partition/query.rs:48-60),
        truncates them to this store's directory granularity, and reads
        ONLY those directories. On object stores this bounds the
        listing itself — Catalyst's partition pruning still has to list
        the whole table root before discarding directories, which at
        100 TB/day of minute dirs is millions of S3 LIST calls.

        Both endpoints are inclusive at µs resolution; rows outside
        the range inside an edge directory are removed by a residual
        pushed-down filter on ``time_col``.
        """
        from datetime import datetime, timedelta

        from duo_spark.sources.pruning import generate_prefixes

        epoch = datetime(1970, 1, 1)
        start = epoch + timedelta(microseconds=start_us)
        # +1µs: generate_prefixes treats an exact minute boundary as an
        # exclusive end; the reader contract is µs-inclusive
        end = epoch + timedelta(microseconds=end_us + 1)
        depth = len(_GRAN_COLS[self.granularity])
        prefixes: list[str] = []
        seen: set[str] = set()
        for p in generate_prefixes(start, end):
            cut = "/".join(p.strip("/").split("/")[:depth])
            if cut not in seen:
                seen.add(cut)
                prefixes.append(cut)
        root = self.table_path(table)
        fs, _ = hadoop_fs(self.spark, root)
        paths = []
        for pre in prefixes:
            full = posixpath.join(root, pre)
            if fs.exists(hadoop_fs(self.spark, full)[1]):
                paths.append(full)
        if not paths:
            return self.read(table).where(F.lit(False))
        gate = (F.col(time_col) >= F.lit(start_us)) & (F.col(time_col) <= F.lit(end_us))
        return self._read(*paths, base_path=root).filter(gate)

    def exists(self, table: str) -> bool:
        fs, p = hadoop_fs(self.spark, self.table_path(table))
        if not fs.exists(p):
            return False
        for status in fs.listStatus(p):
            name = status.getPath().getName()
            if name.startswith("date=") or name.endswith(".parquet"):
                return True
        return False

    # -- K3: tiny JSON side files (process registry, merged log schema) --

    def write_json(self, rel_path: str, payload: object) -> None:
        fs, p = hadoop_fs(self.spark, posixpath.join(self.root, rel_path))
        stream = fs.create(p, True)  # creates parent dirs, overwrites
        try:
            stream.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            stream.close()

    def read_json(self, rel_path: str) -> object | None:
        fs, p = hadoop_fs(self.spark, posixpath.join(self.root, rel_path))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            data = self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return json.loads(bytes(data).decode("utf-8"))

    # ------------------------------------------------------ retention --
    def expire(self, table: str, before_us: int) -> list[str]:
        """Retention: drop every partition directory whose time range
        lies ENTIRELY before ``before_us``. Pure filesystem metadata
        deletes — no data is read or rewritten, and the walk prunes:
        a fully-expired date directory is removed without descending
        into its hours/minutes. Rows older than the cutoff inside the
        boundary (partially-expired) directory are retained — standard
        partition-granular retention; run compact/rewrite if exact
        row-level trimming is ever needed.

        Returns the deleted partition prefixes (relative to the table
        root). The reference has no retention story (duo keeps minute
        partitions forever); this is the operational half every
        observability store needs at 100 TB — without it the listing
        itself becomes the bottleneck.
        """
        from datetime import datetime, timedelta, timezone

        root = self.table_path(table)
        fs, rootp = hadoop_fs(self.spark, root)
        if not fs.exists(rootp):
            return []
        deleted: list[str] = []

        def span_end_us(date_s: str, hour_s: str | None, minute_s: str | None) -> int:
            base = datetime.strptime(date_s, "%Y-%m-%d").replace(tzinfo=timezone.utc)
            if hour_s is None:
                delta = timedelta(days=1)
            elif minute_s is None:
                base += timedelta(hours=int(hour_s))
                delta = timedelta(hours=1)
            else:
                base += timedelta(hours=int(hour_s), minutes=int(minute_s))
                delta = timedelta(minutes=1)
            end = base + delta
            return int(end.timestamp() * 1_000_000)

        def walk(parent, date_s=None, hour_s=None):
            for st in fs.listStatus(parent):
                name = st.getPath().getName()
                if "=" not in name:
                    continue
                val = name.split("=", 1)[1]
                if date_s is None:
                    d, h, m = val, None, None
                elif hour_s is None:
                    d, h, m = date_s, val, None
                else:
                    d, h, m = date_s, hour_s, val
                if span_end_us(d, h, m) <= before_us:
                    fs.delete(st.getPath(), True)
                    deleted.append(
                        "/".join(
                            x
                            for x in (
                                f"date={d}",
                                f"hour={h}" if h is not None else None,
                                f"minute={m}" if m is not None else None,
                            )
                            if x
                        )
                    )
                elif st.isDirectory() and (
                    (date_s is None and self.granularity != "date")
                    or (date_s is not None and hour_s is None and self.granularity == "minute")
                ):
                    # boundary directory: descend one level, then prune
                    # it if expiring its children emptied it (so stale
                    # empty date=/hour= shells never accumulate)
                    walk(st.getPath(), d, h)
                    if len(fs.listStatus(st.getPath())) == 0:
                        fs.delete(st.getPath(), False)

        walk(rootp)
        return deleted

    # ----------------------------------------------------- compaction --

    def compact(
        self, table: str, to_granularity: str = "hour", zorder_by: str | None = None
    ) -> None:
        """Rewrite a fine-grained table at a coarser directory
        granularity (the store docstring's minute->hour promise).

        The demoted partition columns (e.g. ``minute``) become regular
        data columns, so reads return the SAME columns and values —
        only directory/file counts change (one task per remaining
        partition => one file). Pruning on demoted columns degrades to
        parquet row-group min/max stats, which is the right trade for
        cold data: at 100 TB/day, minute dirs are 86,400 dirs/day of
        small files, while hour files stay scan-efficient.

        ``zorder_by`` names a second key column (``trace_id`` is the
        natural one): rows inside each remaining partition are then
        laid out in Morton order of (time, zorder_by) instead of pure
        time order, so row-group min/max stats stay tight on BOTH
        columns — point lookups on the key prune row groups inside a
        compacted hour file instead of relying on the bloom filter
        alone. Time-only range reads lose some tightness per row group
        (each covers a z-square, not a time slice); choose per table.

        Whole-table rewrite with a backup-swap (write to a scratch dir,
        rename old table away, rename scratch in, drop backup); the
        swap uses Hadoop FS renames so it works on any scheme. Callers
        should compact CLOSED tables (or accept a read gap on the swap)
        and set the store's granularity to ``to_granularity`` for
        subsequent writes — mixed directory depths in one table root
        would break partition discovery.
        """
        if to_granularity not in ("date", "hour"):
            raise ValueError(f"can only compact to date|hour, got {to_granularity!r}")
        cols = _GRAN_COLS[to_granularity]
        path = self.table_path(table)
        scratch = self.table_path(f"{table}._compacting")
        backup = self.table_path(f"{table}._precompact")
        # partition values must survive as the strings they were
        # written as ("00" must not become int 0 and re-write as "0")
        df = self._read(path)
        rep = df.repartition(*[F.col(c) for c in cols])
        tcol = next((c for c in ("time", "start") if c in df.columns), None)
        if zorder_by:
            if zorder_by not in df.columns or tcol is None:
                raise ValueError(
                    f"zorder_by={zorder_by!r} needs the column and a time column"
                )
            from duo_spark.operators.layout import zvalue2

            # µs time collapses to a 16-bit intra-partition bucket
            # (≈55 s grains per hour dir); the key uses its low 16 bits
            z = zvalue2(
                F.expr(f"`{tcol}` div 55000000"), F.pmod(F.col(zorder_by), F.lit(65536))
            )
            rep = rep.sortWithinPartitions(*cols, z)
        elif tcol:  # keep row-group time stats tight through compaction
            rep = rep.sortWithinPartitions(*cols, tcol)
        writer = rep.write.mode("overwrite").partitionBy(*cols)
        if "trace_id" in df.columns:
            writer = bloom_options(writer)
        writer.parquet(scratch)
        self._swap(table, scratch)
        self.granularity = to_granularity

    def _swap(self, table: str, scratch: str) -> None:
        """Replace ``table``'s directory with ``scratch`` via FS
        renames (backup-swap; rolls back if the second rename fails)."""
        path = self.table_path(table)
        backup = self.table_path(f"{table}._precompact")
        fs, orig_p = hadoop_fs(self.spark, path)
        _, scratch_p = hadoop_fs(self.spark, scratch)
        _, backup_p = hadoop_fs(self.spark, backup)
        fs.delete(backup_p, True)
        if not fs.rename(orig_p, backup_p):
            raise IOError(f"swap: could not move {path} aside")
        if not fs.rename(scratch_p, orig_p):
            fs.rename(backup_p, orig_p)  # roll back
            raise IOError(f"swap: could not move {scratch} into place")
        fs.delete(backup_p, True)

    def rewrite(self, table: str, transform) -> None:
        """Rewrite a table in place through ``transform(df) -> df``,
        preserving the partition layout found on disk. Used for rare
        whole-table maintenance (e.g. conforming old files after a log
        schema type-widening)."""
        df = self.read(table)
        cols = [c for c in PARTITION_COLS if c in df.columns]
        out = transform(df)
        scratch = self.table_path(f"{table}._rewriting")
        writer = out.repartition(*[F.col(c) for c in cols]).write.mode("overwrite")
        if cols:
            writer = writer.partitionBy(*cols)
        if "trace_id" in out.columns:
            writer = bloom_options(writer)
        writer.parquet(scratch)
        self._swap(table, scratch)


@dataclass
class HotColdTable:
    """Fresh in-memory rows ∪ persisted parquet (duo/src/query.rs:102-111).

    ``hot`` is whatever DataFrame represents not-yet-flushed data (a
    createDataFrame of recent batches, a memory-sink stream table, or
    None in cold-only mode); ``memory_only`` mirrors the reference's
    --memory-mode (T5), skipping the parquet branch entirely.
    """

    store: PartitionedStore
    table: str
    hot: DataFrame | None = None
    memory_only: bool = False

    def df(self) -> DataFrame:
        cold = None if self.memory_only or not self.store.exists(self.table) else self.store.read(self.table)
        if self.hot is not None and cold is not None:
            # U1 with schema drift: ByName + allowMissingColumns
            return self.hot.unionByName(
                cold.drop(*PARTITION_COLS), allowMissingColumns=True
            )
        if self.hot is not None:
            return self.hot
        if cold is not None:
            return cold.drop(*PARTITION_COLS)
        raise FileNotFoundError(f"table {self.table!r} has neither hot nor cold data")


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 32,
    sorted_by: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed table (hash-bucketed by ``key``
    into ``buckets`` files per partition, catalog-registered).

    Bucketing is the co-located-join primitive: two tables bucketed by
    the same key into the same bucket count join WITHOUT a shuffle —
    Catalyst reads matching buckets side by side (plan shows
    SortMergeJoin over two bucketed scans, no Exchange; asserted in
    tests/test_store.py). At 100 TB this turns every recurring join on
    a stable key (doc_id, vec_id, trace_id) from a full-data shuffle
    into a scan, amortizing ONE bucketing write across every
    subsequent join, aggregation, and dedup keyed on it.

    Spark requires bucketed data to go through the catalog
    (saveAsTable) — a plain parquet path write silently drops bucket
    metadata.
    """
    w = df.write.bucketBy(buckets, key)
    if sorted_by is not None:
        w = w.sortBy(sorted_by)
    w.mode("overwrite").format("parquet").saveAsTable(table)
