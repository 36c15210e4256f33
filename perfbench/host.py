"""Engine host: the process under test.

It holds the SparkSession and the ``DuoEngine`` (or, for the library
workload, the query registry) and does only what the load generator
(``run.py``) asks: one JSON command per line on stdin, one JSON reply
per command on the file descriptor given as ``--reply-fd``. Spark and
the engine may write to stdout and stderr freely; the generator sends
both to a log file. The generator ends the host by signalling its
process group; if the generator goes away first, the host stops the
engine and Spark when its stdin closes.

    python3 perfbench/host.py --root . --work perfbench/out/x --trace 0 --reply-fd 5
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback


class Host:
    def __init__(self, spark, work: str, trace: bool):
        self.spark = spark
        self.work = work
        self.data = os.path.join(work, "data")
        self.lib_dir = ""
        self.engine = None
        self.tracer = None
        if trace:
            from perfbench import tracing

            self.tracer = tracing.Tracer(spark.sparkContext)
            tracing.install(self.tracer)

    # ---------------------------------------------------------- stack --

    def cmd_setup(self, n: int) -> dict:
        """Bring the product stack up ``n`` times on fresh data dirs
        (``serve``'s sequence and defaults) and tear each one down;
        returns each bring-up's seconds."""
        from duo_spark.engine import DuoEngine

        times = []
        for i in range(n):
            d = os.path.join(self.work, f"setup{i}")
            t0 = time.perf_counter()
            eng = DuoEngine(self.spark, d)
            eng.start_ingest()
            eng.start_pipelines()
            eng.serve_http()
            times.append(time.perf_counter() - t0)
            eng.stop()
            shutil.rmtree(d, ignore_errors=True)
        return {"setup_s": times}

    def cmd_engine(self) -> dict:
        """The engine under test, listening for ingest."""
        from duo_spark.engine import DuoEngine

        self.engine = DuoEngine(self.spark, self.data)
        return {"ingest": list(self.engine.start_ingest())}

    def cmd_drain(self) -> dict:
        """Process everything staged so far in one batch per table, so
        the store's layout (one completed span version, one batch of
        log files) is the same on every run. No ``compact()``: a log
        table compacted before its file-sink pipeline (re)starts reads
        back empty (see NOTES.md)."""
        t0 = time.perf_counter()
        self.engine.drain()
        return {"drain_s": time.perf_counter() - t0}

    def cmd_go_live(self) -> dict:
        """Continuous pipelines and the HTTP routes, as ``serve``."""
        from perfbench import tracing

        self.engine.start_pipelines()
        hook = tracing.request_hook(self.tracer) if self.tracer else None
        return {"web": list(self.engine.serve_http(request_hook=hook))}

    def cmd_check_store(self) -> dict:
        """What the store holds, read directly (outside any timing):
        the correctness check compares it with what was sent."""
        from pyspark.sql import functions as F

        row = self.engine.spans().agg(
            F.count("*").alias("n"),
            F.countDistinct("id").alias("distinct"),
            F.sum("id").alias("sum_ids"),
            F.sum(F.col("end").isNull().cast("long")).alias("open"),
        ).first()
        return {**row.asDict(), "logs": self.engine.logs().count()}

    # -------------------------------------------------------- library --

    def cmd_library_setup(self, seed: int, queries: list[str], n: int) -> dict:
        """The library's set-up, ``n`` times: write the seeded fixture
        tables to a fresh directory (untimed), then time the first pass
        over them. The last directory is the one the warm passes read."""
        from perfbench import gen

        times = []
        for i in range(n):
            if i:
                shutil.rmtree(self.lib_dir, ignore_errors=True)
            self.lib_dir = os.path.join(self.work, f"library{i}")
            gen.library_tables(seed, self.lib_dir)
            t0 = time.perf_counter()
            self.cmd_library_pass(queries)
            times.append(time.perf_counter() - t0)
        return {"setup_s": times}

    def cmd_library_check(self, queries: list[str]) -> dict:
        """Compare every query's rows with the registry's DuckDB oracle
        SQL over the same fixture tables."""
        import duckdb

        from duo_spark.queries import QUERIES
        from tests.test_oracle_parity import _rows

        con = duckdb.connect()
        for path in glob.glob(os.path.join(self.lib_dir, "*.parquet")):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        bad = {}
        for q in queries:
            fn, sql = QUERIES[q]
            got = fn(self.spark, self.lib_dir).toPandas()
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns) or _rows(got) != _rows(want):
                bad[q] = f"{len(got)} rows vs oracle {len(want)}"
        con.close()
        return {"mismatch": bad}

    def _ungrouped_jobs(self) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def cmd_library_pass(self, queries: list[str]) -> dict:
        """One pass over ``queries``, each forced with the noop sink
        (bench.py's protocol): per query, plan-build and execution
        seconds, and while tracing the Spark jobs each phase launched
        (nothing else runs in this workload, so every new job belongs
        to the phase, including jobs from the operators' own threads)."""
        from duo_spark.queries import QUERIES

        counting = self.tracer is not None and self.tracer.enabled
        out = {}
        for q in queries:
            fn = QUERIES[q][0]
            jobs0 = self._ungrouped_jobs() if counting else set()
            t0 = time.perf_counter()
            df = fn(self.spark, self.lib_dir)
            build_s = time.perf_counter() - t0
            jobs1 = self._ungrouped_jobs() if counting else set()
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rec = {"build_s": build_s, "exec_s": time.perf_counter() - t1}
            if counting:
                rec["build_jobs"] = len(jobs1 - jobs0)
                rec["exec_jobs"] = len(self._ungrouped_jobs() - jobs1)
            out[q] = rec
        return out

    def cmd_memory(self) -> dict:
        """Memory the engine process retains: the JVM heap in use after
        a full collection plus this interpreter's resident set."""
        jvm = self.spark._jvm
        jvm.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        heap = rt.totalMemory() - rt.freeMemory()
        with open("/proc/self/status") as f:
            rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
        return {"retained_mb": heap / 2**20 + rss_kb / 1024}

    # --------------------------------------------------------- layers --

    def cmd_tracing(self, enabled: bool) -> dict:
        self.tracer.enabled = enabled
        return {"now_us": time.time_ns() // 1_000}

    def cmd_layers(self, out_dir: str, since_us: int, until_us: int) -> dict:
        """Per-layer metrics of everything traced; writes the span file
        and the self-time table under ``out_dir``."""
        from perfbench import tracing

        m: dict[str, float] = {}
        for kind in ("span", "log"):
            secs = [p["durationMs"].get("triggerExecution", 0) / 1e3
                    for k, q in self.tracer.queries if k == kind
                    for p in q.recentProgress if p["numInputRows"] > 0]
            m[f"pipeline.{kind}.batches"] = len(secs)
            m[f"pipeline.{kind}.batch_p50_s"] = statistics.median(secs) if secs else 0.0
            m[f"pipeline.{kind}.batch_max_s"] = max(secs, default=0.0)
        flushes = [s for s in self.tracer.spans if s["name"] == "ingest_server.flush"]
        m["ingest_server.flushes"] = len(flushes)
        m["ingest_server.flush_s"] = sum(s["tags"]["dur_s"] for s in flushes)
        m["ingest_server.rows_per_flush"] = (
            statistics.median(s["tags"]["rows"] for s in flushes) if flushes else 0.0
        )
        m["merge.completed_versions"] = len(glob.glob(os.path.join(self.data, "span", "completed", "v=*")))
        m["store.log_files"] = len(glob.glob(os.path.join(self.data, "log", "**", "*.parquet"),
                                             recursive=True))
        m.update(tracing.service_layers(self.tracer, since_us, until_us))
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.write_spans(os.path.join(out_dir, "spans.parquet"))
        with open(os.path.join(out_dir, "self_time.json"), "w") as f:
            json.dump(self.tracer.self_time_table(), f, indent=1)
        return m

    def stop(self) -> None:
        if self.engine is not None:
            self.engine.stop()
            self.engine = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--reply-fd", type=int, required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))
    reply = os.fdopen(args.reply_fd, "w", buffering=1)

    t0 = time.perf_counter()
    from duo_spark.session import get_spark

    spark = get_spark("perfbench", **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    host = Host(spark, os.path.abspath(args.work), bool(args.trace))
    reply.write(json.dumps({"boot_s": time.perf_counter() - t0}) + "\n")
    try:
        for line in sys.stdin:
            cmd = json.loads(line)
            name = cmd.pop("cmd")
            try:
                out = getattr(host, f"cmd_{name}")(**cmd)
            except Exception as e:  # noqa: BLE001 — report, keep serving
                traceback.print_exc()
                out = {"error": f"{type(e).__name__}: {e}"}
            reply.write(json.dumps(out) + "\n")
    finally:
        host.stop()
        spark.stop()
        reply.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
