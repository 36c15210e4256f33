#!/usr/bin/env python3
"""Product-path benchmark for duo_spark.

    python3 perfbench/run.py --workload {query,library} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. This process is the load generator:
it starts the engine in a separate host process (``host.py``), feeds
it only seeded records over the ingest TCP port and HTTP requests over
the web port, checks the answers outside the timed window, and prints
one JSON result as the last line of stdout. With ``--trace 1`` the
host wraps each layer's entry points, the ``--seconds`` window is
split into untraced and traced halves, and the result carries
the per-layer metrics; the span file and self-time table land in
``perfbench/out/runs/``.
Workloads, metrics and known defects are described in
``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import http.client
import itertools
import json
import math
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: generator threads (nproc = 4): the ingest TCP connections, and the
#: clients of the untimed warm-up and check requests. The measured
#: window has one client (see ``query_window``)
CONNECTIONS = 4
#: set-ups per run (serve-stack bring-ups, or first library passes);
#: setup_s is their median
SETUPS = 3
#: untimed route-mix cycles before the query window. The JVM keeps
#: speeding up for minutes; warming by count, not by time, starts every
#: window at the same point of that curve. The library warms up on its
#: set-up passes and its oracle check
WARM_CYCLES = 4
TIMEOUT_S = 60.0
#: traces loaded through the ingest path before the query workload
PRELOAD_TRACES = 600

#: one query per class of the operator library: one whose plan launches
#: many eager jobs while it is built, one heavy to execute, and three
#: whose build launches a single job
LIBRARY = ("k_core_parts", "url_dedup", "logs_search", "pricing_summary", "point_lookup")

_T0 = time.perf_counter()


def declared_metrics(trace: int) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for a run
    without (``end_to_end``) or with (``per_layer``) tracing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}] {msg}", file=sys.stderr, flush=True)


def control_s() -> float:
    """Median of three timings of a fixed pure-Python loop in this
    process: recorded with every run so that drift in the machine's
    own speed between runs is visible next to the metrics."""
    def once() -> float:
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i % 7
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(3))


def typical_ms(by_key: dict[str, list[float]], q: float) -> float:
    """Geometric mean over routes (or registry queries) of each one's
    ``q``-quantile latency: every route weighs the same, however many
    of its requests fell into the window."""
    logs = [math.log(quantile(v, q)) for v in by_key.values() if v]
    return math.exp(sum(logs) / len(logs))


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


# ------------------------------------------------------------ the host --

class Host:
    """The engine process (and its JVM), driven over pipes."""

    def __init__(self, work: str, trace: int):
        r, w = os.pipe()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ)
        env.update(
            SPARK_GRAFT_CPUS=str(os.cpu_count() or 4),
            SPARK_LOCAL_DIRS=tmp,
            TMPDIR=tmp,
            # keep the JVM's temp files, hsperfdata included, in the checkout
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            PYTHONUNBUFFERED="1",
        )
        self.log_path = os.path.join(work, "host.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), "--root", ROOT,
             "--work", work, "--trace", str(trace), "--reply-fd", str(w)],
            stdin=subprocess.PIPE, stdout=self._log, stderr=subprocess.STDOUT,
            pass_fds=(w,), env=env, cwd=ROOT, start_new_session=True, text=True,
        )
        os.close(w)
        self._reply = os.fdopen(r, "r")

    def read(self, timeout: float = 170) -> dict:
        ready, _, _ = select.select([self._reply], [], [], timeout)
        line = self._reply.readline() if ready else ""
        if not line:
            raise RuntimeError(f"engine host gave no reply (see {self.log_path})")
        out = json.loads(line)
        if "error" in out:
            raise RuntimeError(f"engine host: {out['error']}")
        return out

    def call(self, cmd: str, **kw) -> dict:
        t0 = time.perf_counter()
        self.proc.stdin.write(json.dumps({"cmd": cmd, **kw}) + "\n")
        self.proc.stdin.flush()
        out = self.read()
        log(f"{cmd}: {time.perf_counter() - t0:.2f} s")
        return out

    def close(self) -> None:
        """End the host's whole session (the host, its JVM and Python
        workers) and wait until every process of it has exited. SIGKILL
        at once: the run's scratch directory is deleted anyway, and the
        JVM's shutdown hooks would only add seconds to every run."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            self.proc.poll()  # reap the host so its group can empty
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        self.proc.wait()
        self.proc.stdin.close()
        self._reply.close()
        self._log.close()
        log("host stopped")


# ----------------------------------------------------------- the client --

class Tally:
    """Attempted / failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def add(self, ok: bool, what: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 10:
                    self.errors.append(what)


def http_get(web: tuple[str, int], path: str, tally: Tally):
    """(status, body, seconds) of one GET, status 0 after a timeout or
    a transport error. Anything but a 200 counts as a failed operation."""
    t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection(*web, timeout=TIMEOUT_S)
        try:
            conn.request("GET", path)
            resp = conn.getresponse()
            status, body = resp.status, resp.read()
        finally:
            conn.close()
    except OSError as e:
        status, body = 0, repr(e).encode()
    secs = time.perf_counter() - t0
    tally.add(status == 200, f"GET {path} -> {status} {body[:200]!r}")
    return status, body, secs


def in_parallel(fn, items: list) -> list:
    """``fn`` over ``items`` on CONNECTIONS threads, results in item order."""
    out = [None] * len(items)
    it = iter(enumerate(items))
    lock = threading.Lock()

    def worker():
        while True:
            with lock:
                nxt = next(it, None)
            if nxt is None:
                return
            out[nxt[0]] = fn(nxt[1])

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


def send_traces(ingest: tuple[str, int], rng: random.Random, n_traces: int, seed: int,
                tally: Tally):
    """Load ``n_traces`` seeded traces over CONNECTIONS ingest
    connections; each connection registers every service and sends
    its share. Returns (the TraceSet sent, seconds blocked sending)."""
    from duo_spark.streaming.ingest_server import IngestClient

    from perfbench import gen

    ids = gen.IdSource(seed)
    clients = [IngestClient(*ingest) for _ in range(CONNECTIONS)]
    total, parts = gen.TraceSet(), []
    per = -(-n_traces // CONNECTIONS)
    for i, c in enumerate(clients):
        pids = {s: c.register_process(s) for s in gen.SERVICES}
        ts = gen.traces(rng, ids, min(per, n_traces - i * per), gen.BASE_US + i * per * 20_000, pids)
        parts.append((c, ts.records))
        total.extend(ts)

    def send(part) -> float:
        client, records = part
        t0 = time.perf_counter()
        try:
            for kind, rec in records:
                (client.record_span if kind == "span" else client.record_log)(**rec)
            tally.add(True)
        except OSError as e:
            tally.add(False, f"send: {e}")
        finally:
            client.close()
        return time.perf_counter() - t0

    block = in_parallel(send, parts)
    return total, sum(block)


# ---------------------------------------------------------- workloads --

def query_window(web, cycles, seconds: float, tally: Tally) -> dict:
    """Closed loop of one client: each request is sent once the previous
    one is answered, in whole route-mix cycles until ``seconds`` have
    passed, so every window holds the same mix of routes. ``rates``
    holds each cycle's requests per second of its wall time.

    One client, because every request already runs Spark jobs on all
    cores: with three, the requests and the JVM's compiler threads
    fought for four cores, and a run's figure followed the machine's
    load and the compiler's lag behind the warm-up far more."""
    lat: dict[str, list[float]] = {}
    sizes: list[int] = []
    rates: list[float] = []
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        c0 = time.perf_counter()
        items = next(cycles)
        for route, path in items:
            status, body, secs = http_get(web, path, tally)
            if status == 200:
                lat.setdefault(route, []).append(secs * 1e3)
                sizes.append(len(body))
        rates.append(len(items) / (time.perf_counter() - c0))
    return {"count": len(sizes), "routes": lat, "bytes": sizes, "rates": rates}


def merge_windows(parts: list[dict]) -> dict:
    out = {"count": 0, "routes": {}, "bytes": [], "rates": []}
    for w in parts:
        out["count"] += w["count"]
        out["bytes"] += w["bytes"]
        out["rates"] += w["rates"]
        for r, ms in w["routes"].items():
            out["routes"].setdefault(r, []).extend(ms)
    return out


def run_query(host: Host, args, tally: Tally, info: dict) -> dict:
    """Load a seeded store through the ingest path, drain it to a fixed
    layout, then measure a closed loop of the route mix."""
    from perfbench import gen

    rng = random.Random(args.seed)
    ingest = tuple(host.call("engine")["ingest"])
    ts, info["send_block_s"] = send_traces(ingest, rng, PRELOAD_TRACES, args.seed, tally)
    info["drain_s"] = host.call("drain")["drain_s"]
    info["setups_s"] = host.call("setup", n=SETUPS)["setup_s"]
    web = tuple(host.call("go_live")["web"])
    mix_rng = random.Random(args.seed + 1)
    cycles = (gen.route_cycle(mix_rng, ts, n) for n in itertools.count())
    warm = [item for _ in range(WARM_CYCLES) for item in next(cycles)]
    in_parallel(lambda item: http_get(web, item[1], tally), warm)
    # traced runs measure untraced, traced, traced, untraced quarters:
    # the routes keep speeding up for a while, and this order cancels a
    # steady trend out of trace.overhead_pct
    plan = [False, True, True, False] if args.trace else [False]
    merged = {False: [], True: []}
    for traced in plan:
        if args.trace:
            now = host.call("tracing", enabled=traced)["now_us"]
            if traced:
                info.setdefault("traced_since_us", now)
            elif "traced_since_us" in info:
                info.setdefault("traced_until_us", now)
        merged[traced].append(query_window(web, cycles, args.seconds / len(plan), tally))
    windows = [merge_windows(merged[t]) for t in (False, True) if merged[t]]
    info["retained_mb"] = host.call("memory")["retained_mb"]
    check_query(host, web, ts, rng, tally, info)
    return {"windows": windows}


def check_query(host: Host, web, ts, rng, tally: Tally, info: dict) -> None:
    """Every generated span completed exactly once and every log kept;
    sampled get_trace span sets and field_stats(level) counts match
    the generator's own reference; list_traces honours limit and
    service."""
    problems = []
    got = host.call("check_store")
    want_ids = [i for v in ts.span_ids.values() for i in v]
    if not (got["n"] == got["distinct"] == len(want_ids) and got["sum_ids"] == sum(want_ids)
            and got["open"] == 0 and got["logs"] == ts.n_logs):
        problems.append(f"store {got} vs {len(want_ids)} spans, {ts.n_logs} logs sent")
    tids = rng.sample(sorted(ts.span_ids), 3)
    paths = ([f"/api/traces/{t}" for t in tids] + ["/api/logs/stats/level"]
             + ["/api/traces?service=web&limit=5"])
    answers = in_parallel(lambda p: http_get(web, p, tally), paths)
    bodies = [json.loads(body) if status == 200 else None for status, body, _ in answers]
    for tid, body in zip(tids, bodies):
        spans = {int(s["spanID"]) for tr in body["data"] for s in tr["spans"]} if body else None
        if spans != set(ts.span_ids[tid]):
            problems.append(f"get_trace {tid}: {spans}")
    stats = {r["value"]: r["count"] for r in bodies[3]} if bodies[3] is not None else None
    if stats != ts.level_counts:
        problems.append(f"field_stats(level) {stats} != {ts.level_counts}")
    data = bodies[4]["data"] if bodies[4] else []
    roots = [s for tr in data for s in tr["spans"] if not s["references"]]
    if len(data) != 5 or len(roots) != 5 or any(not s["processID"].startswith("web") for s in roots):
        problems.append(f"list_traces service=web limit=5: {len(data)} traces")
    info["correct"] = not problems
    for p in problems:
        log(f"check failed: {p}")


def run_library(host: Host, args, tally: Tally, info: dict) -> dict:
    """Set up (fixtures plus a first pass) SETUPS times, check every
    query against its DuckDB oracle (the set-up passes and the check
    are the warm-up), then measure passes, each query forced with the
    noop sink."""
    info["setups_s"] = host.call("library_setup", seed=args.seed, queries=list(LIBRARY),
                                 n=SETUPS)["setup_s"]
    mismatch = host.call("library_check", queries=list(LIBRARY))["mismatch"]
    for q in LIBRARY:
        tally.add(q not in mismatch, f"{q}: {mismatch.get(q)}")
    info["correct"] = not mismatch
    # traced runs alternate untraced and traced passes, so both halves
    # see the same warm-up and the same machine
    modes = [False, True] if args.trace else [False]
    windows = [{"routes": {}, "count": 0, "passes": [], "rates": []} for _ in modes]
    deadline = time.perf_counter() + args.seconds
    for i in itertools.count():
        if i >= len(modes) and time.perf_counter() >= deadline:
            break
        w = windows[i % len(modes)]
        if args.trace:
            host.call("tracing", enabled=modes[i % len(modes)])
        res = host.call("library_pass", queries=list(LIBRARY))
        w["passes"].append(res)
        w["rates"].append(len(LIBRARY) / sum(r["build_s"] + r["exec_s"] for r in res.values()))
        for q in LIBRARY:
            secs = res[q]["build_s"] + res[q]["exec_s"]
            w["routes"].setdefault(q, []).append(secs * 1e3)
            w["count"] += 1
            tally.add(True)
    info["pass_s"] = [sum(r["build_s"] + r["exec_s"] for r in p.values())
                      for w in windows for p in w["passes"]]
    info["retained_mb"] = host.call("memory")["retained_mb"]
    return {"windows": windows}


WORKLOADS = {"query": run_query, "library": run_library}


# ------------------------------------------------------------- metrics --

def end_to_end(res: dict, info: dict) -> dict:
    w = res["windows"][0]
    return {
        "setup_s": statistics.median(info["setups_s"]),
        "queries_per_s": statistics.median(w["rates"]),
        "query_p50_ms": typical_ms(w["routes"], 0.5),
        "query_p75_ms": typical_ms(w["routes"], 0.75),
        "retained_mb": info["retained_mb"],
    }


def per_layer(host: Host, res: dict, info: dict, out_dir: str, names: dict) -> dict:
    from perfbench.tracing import ROUTES

    untraced, traced = res["windows"]
    m = dict.fromkeys(names, 0.0)
    layers = host.call("layers", out_dir=out_dir, since_us=info.get("traced_since_us", 0),
                       until_us=info.get("traced_until_us", 2**62))
    m.update({k: v for k, v in layers.items() if k in m})
    m["ingest_server.send_block_s"] = info.get("send_block_s", 0.0)
    m["pipeline.drain_s"] = info.get("drain_s", 0.0)
    if "bytes" in traced:  # the query workload
        client_ms = [x for v in traced["routes"].values() for x in v]
        m["server.overhead_ms"] = statistics.median(client_ms) - layers["server.handler_ms"]
        m["server.response_bytes"] = statistics.median(traced["bytes"])
        for r in ROUTES:
            if untraced["routes"].get(r):
                m[f"route.{r}.p50_ms"] = statistics.median(untraced["routes"][r])
    if "passes" in traced:
        for q in LIBRARY:
            runs = [p[q] for p in traced["passes"]]
            build_s = statistics.median(r["build_s"] for r in runs)
            exec_s = statistics.median(r["exec_s"] for r in runs)
            m[f"library.{q}.build_s"], m[f"library.{q}.exec_s"] = build_s, exec_s
            m[f"library.{q}.build_jobs"] = runs[-1]["build_jobs"]
            m["library.build_s"] += build_s
            m["library.exec_s"] += exec_s
            m["library.build_jobs"] += runs[-1]["build_jobs"]
            m["library.exec_jobs"] += runs[-1]["exec_jobs"]
    m["trace.overhead_pct"] = 100 * (typical_ms(traced["routes"], 0.5)
                                     / typical_ms(untraced["routes"], 0.5) - 1)
    return m


# ---------------------------------------------------------------- main --

def main() -> int:
    ap = argparse.ArgumentParser(description="duo_spark product-path benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "duo_spark", "engine.py")):
        log(f"no duo_spark package under {ROOT}: run from the root of a full checkout")
        return 2

    declared = declared_metrics(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    out = os.path.join(HERE, "out")
    work, runs = os.path.join(out, run_id), os.path.join(out, "runs")
    os.makedirs(runs, exist_ok=True)
    tally = Tally()
    info: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "ingest_connections": CONNECTIONS,
                  "http_clients": 1}
    host = Host(work, args.trace)
    try:
        sys.path.insert(0, ROOT)
        import bench  # the repo's /proc/stat reader, for host steal %

        info["boot_s"] = host.read(300)["boot_s"]
        info["control_s"] = control_s()
        ticks0 = bench._cpu_ticks()
        res = WORKLOADS[args.workload](host, args, tally, info)
        info["steal_pct"] = bench._steal_pct(ticks0, bench._cpu_ticks())
        info["control_after_s"] = control_s()
        info["samples"] = [w["count"] for w in res["windows"]]
        info["p50_ms"] = {k: statistics.median(v) for k, v in res["windows"][0]["routes"].items()}
        info["rates"] = res["windows"][0]["rates"]
        metrics = (per_layer(host, res, info, os.path.join(runs, run_id), declared)
                   if args.trace else end_to_end(res, info))
        if set(metrics) != set(declared):
            raise RuntimeError(f"metrics {sorted(set(metrics) ^ set(declared))} "
                               "differ from BENCHMARK.json")
        info["metrics"] = metrics
    finally:
        host.close()
        shutil.move(host.log_path, os.path.join(runs, f"{run_id}.log"))
        shutil.rmtree(work, ignore_errors=True)
        info.update(attempted=tally.attempted, failed=tally.failed, errors=tally.errors)
        with open(os.path.join(runs, f"{run_id}.json"), "w") as f:
            json.dump(info, f, indent=1)
    log(json.dumps({k: info.get(k) for k in ("workload", "seed", "trace", "http_clients",
                                             "samples", "steal_pct", "control_s")}))
    print(json.dumps({
        "correct": bool(info.get("correct")) and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": declared[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
