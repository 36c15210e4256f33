"""Seeded inputs for the product-path benchmark.

Everything here is pure Python (plus pyarrow for the library fixture
tables): the same seed always yields the same records, in the same
order. The engine only ever sees what these functions produce.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

#: µs epoch of the synthetic telemetry's first trace (2024-03-01 UTC);
#: fixed so the store's minute partitions are the same on every run
BASE_US = 1_709_251_200_000_000

SERVICES = ("web", "api", "db", "worker")
OPERATIONS = {
    "web": ("GET /", "GET /cart", "POST /checkout", "GET /search"),
    "api": ("auth.check", "cart.load", "price.quote"),
    "db": ("db.query", "db.commit", "cache.get"),
    "worker": ("job.run", "job.retry", "mail.send"),
}
LEVELS = ("ERROR", "WARN", "INFO", "DEBUG", "TRACE")
LEVEL_WEIGHTS = (1, 2, 6, 3, 1)
WORDS = (
    "request handled cache miss retry timeout user order payment "
    "queue flushed slow fast connection opened closed token"
).split()


@dataclass
class TraceSet:
    """One seeded batch of traces as ingest records, plus the
    reference answers the correctness checks compare against."""

    records: list[tuple[str, dict]] = field(default_factory=list)
    span_ids: dict[int, list[int]] = field(default_factory=dict)  # trace -> ids
    level_counts: dict[str, int] = field(default_factory=dict)
    n_logs: int = 0

    def extend(self, other: "TraceSet") -> None:
        self.records += other.records
        self.span_ids.update(other.span_ids)
        for k, v in other.level_counts.items():
            self.level_counts[k] = self.level_counts.get(k, 0) + v
        self.n_logs += other.n_logs


class IdSource:
    """Unique span and trace ids: a seeded offset plus a counter, so
    ids never collide within a run and differ between seeds."""

    def __init__(self, seed: int):
        self._next = (random.Random(seed).getrandbits(24) << 16) + 1

    def take(self) -> int:
        self._next += 1
        return self._next


def traces(rng: random.Random, ids: IdSource, n_traces: int, t0_us: int,
           pids: dict[str, str]) -> TraceSet:
    """``n_traces`` span trees of 1-8 spans. Every span ships as an
    OPEN record and a CLOSE record (the subscriber's lifecycle), and
    0-3 logs hang off each span. ``pids`` maps service -> the
    process id the ingest server assigned to it."""
    out = TraceSet()
    for t in range(n_traces):
        svc = SERVICES[t % len(SERVICES)]
        pid = pids[svc]
        trace_id = ids.take()
        root_start = t0_us + t * 20_000 + rng.randint(0, 19_999)
        root_dur = rng.randint(2_000, 900_000)
        root = ids.take()
        spans = [(root, None, rng.choice(OPERATIONS[svc]), root_start, root_start + root_dur)]
        for _ in range(rng.randint(0, 7)):
            cs = root_start + rng.randint(0, root_dur - 1_000)
            cd = rng.randint(100, max(root_dur - (cs - root_start), 200))
            child_svc = rng.choice(SERVICES)
            spans.append((ids.take(), root, rng.choice(OPERATIONS[child_svc]), cs, cs + cd))
        out.span_ids[trace_id] = [s[0] for s in spans]
        for sid, parent, name, start, end in spans:
            base = dict(id=sid, parent_id=parent, trace_id=trace_id, name=name,
                        process_id=pid, start=start)
            out.records.append(("span", dict(base, end=None, tags=None)))
            for _ in range(rng.randint(0, 3)):
                level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
                out.level_counts[level] = out.level_counts.get(level, 0) + 1
                out.n_logs += 1
                out.records.append(("log", dict(
                    process_id=pid, time=rng.randint(start, end), trace_id=trace_id,
                    span_id=sid, level=level, target=f"{svc}::handler",
                    file=f"src/{svc}.rs", line=rng.randint(1, 900),
                    message=" ".join(rng.choices(WORDS, k=5)),
                    fields={"attempt": rng.randint(0, 4)},
                )))
            tags = {"busy": rng.randint(50, 90_000), "idle": rng.randint(0, 9_000)}
            if rng.random() < 0.05:
                tags["error"] = True
            out.records.append(("span", dict(base, end=end, tags=tags)))
    return out


# ---------------------------------------------------- route mix (query) --

def route_cycle(rng: random.Random, ts: TraceSet, n: int) -> list[tuple[str, str]]:
    """One cycle of the route mix as ``(route, path)`` GETs over the
    preloaded store: list traces with and without a duration filter,
    get trace (a hit, and every fifth cycle an unknown id instead of a
    second hit), list logs with ``expr`` and ``skip``, field stats,
    operations, services and schema. Every cycle has the same routes
    in the same order; ``rng`` picks the parameters. ``n`` numbers the
    cycle."""
    trace_ids = sorted(ts.span_ids)
    svc = rng.choice(SERVICES)
    miss = rng.getrandbits(60) | (1 << 61)  # never a generated id
    level = rng.choice(("ERROR", "WARN", "DEBUG"))
    return [
        ("list_traces", f"/api/traces?service={svc}&limit=20"),
        ("get_trace", f"/api/traces/{rng.choice(trace_ids)}"),
        ("list_logs", f"/api/logs?expr=level%3D%27{level}%27&skip={rng.choice((0, 20, 50))}&limit=50"),
        ("field_stats", f"/api/logs/stats/{rng.choice(('level', 'target'))}"),
        ("list_traces", f"/api/traces?minDuration={rng.choice((100, 300, 600))}ms&limit=20"),
        ("get_trace", f"/api/traces/{miss if n % 5 == 4 else rng.choice(trace_ids)}"),
        ("operations", f"/api/services/{svc}/operations"),
        ("services", "/api/services"),
        ("log_schema", "/api/logs/schema"),
    ]


# ------------------------------------------------ library fixture tables --

DOC_VOCAB = (
    "the a fast slow big small key order sort table scan merge part window "
    "hash join agg batch stream spark data row column filter query value "
    "vector group line customer"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def library_tables(seed: int, out_dir: str) -> None:
    """Write the four fixture tables the library subset reads
    (documents, events, orders, lineitem) as parquet, shaped like the
    repository's TPC-H-like test fixtures at about their sf0.001
    size."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs = 500
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    templates = [rng.choices(DOC_VOCAB, k=rng.randint(80, 120)) for _ in range(n_docs // 5)]
    for i in range(n_docs):
        if rng.random() < 0.3:
            # near-duplicates differ in their last word only, so every
            # near-duplicate pair has shingle Jaccard >= 0.9 (the
            # regime in which the registry's LSH queries are exact)
            words = list(rng.choice(templates))
            words[-1] = rng.choice(DOC_VOCAB)
        else:
            words = rng.choices(DOC_VOCAB, k=rng.randint(20, 90))
        text = " ".join(words)
        docs["doc_id"].append(i)
        docs["text"].append(text)
        docs["lang"].append(rng.choice(LANGS))
        docs["source"].append(f"src{rng.randrange(20)}")
        docs["n_chars"].append(len(text))
    pq.write_table(pa.table(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())])),
        os.path.join(out_dir, "documents.parquet"))

    n_events = 1000
    t0 = dt.datetime(2024, 1, 1)
    ev = {"event_id": [], "ts": [], "user_id": [], "event_type": [], "value": [], "props": []}
    for i in range(n_events):
        ev["event_id"].append(i)
        ev["ts"].append(t0 + dt.timedelta(microseconds=rng.randrange(30 * 86_400_000_000)))
        ev["user_id"].append(min(int(rng.expovariate(1 / 6)), 14))
        ev["event_type"].append(rng.choice(EVENT_TYPES))
        ev["value"].append(round(rng.expovariate(1 / 50), 2))
        ev["props"].append(f'{{"k": {rng.randrange(100)}}}')
    pq.write_table(pa.table(ev, schema=pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])),
        os.path.join(out_dir, "events.parquet"))

    n_orders, n_cust, n_parts = 1500, 150, 200
    orders = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [], "o_totalprice": [],
              "o_orderdate": [], "o_orderpriority": []}
    d0 = dt.datetime(1995, 1, 1)
    for k in range(n_orders):
        orders["o_orderkey"].append(k)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(rng.uniform(1000, 500_000), 2))
        orders["o_orderdate"].append(d0 + dt.timedelta(days=rng.randrange(2400)))
        orders["o_orderpriority"].append(rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    pq.write_table(pa.table(orders, schema=pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string())])),
        os.path.join(out_dir, "orders.parquet"))

    li = {"l_orderkey": [], "l_partkey": [], "l_suppkey": [], "l_linenumber": [],
          "l_quantity": [], "l_extendedprice": [], "l_discount": [], "l_tax": [],
          "l_returnflag": [], "l_linestatus": [], "l_shipdate": []}
    # a dense kernel of popular parts so the k-core survives its peel
    hot_parts = list(range(min(120, n_parts)))
    while len(li["l_orderkey"]) < 6000:
        k = rng.randrange(n_orders)
        pool = hot_parts if rng.random() < 0.7 else range(n_parts)
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(k)
            li["l_partkey"].append(rng.choice(pool))
            li["l_suppkey"].append(rng.randrange(10))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("NAR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(d0 + dt.timedelta(days=rng.randrange(2500)))
    pq.write_table(pa.table(li, schema=pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])),
        os.path.join(out_dir, "lineitem.parquet"))
