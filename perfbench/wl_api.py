"""autoapi_read_write: interactive traffic through ``engine.Engine`` from
one closed-loop client. A seeded mix of list requests (equality filter,
range filter, tagged search, free-text search), group options, the page
envelope, Zipf-skewed point reads and SQL over parquet models, plus put and
delete writes on a runtime model, each followed by a list of that model.

``Engine.put`` is lazy: each write stacks an anti-join onto the model's
lineage and defers its cost to later reads. The client lists the runtime
model right after declaring it and again after each write (it refreshes
its view), so those lists see every lineage depth from 0 to
``WRITES_PER_CYCLE``; then the model is declared again from its initial
rows (outside the timed region). A list's cost grows steeply with depth,
so each depth is its own request kind in the mix.

The traffic shape (the ``MIX`` counts, Zipf s=1.1 for point reads, the
refresh after every write, ``WRITES_PER_CYCLE``) is an assumption of this
benchmark, not a measured trace; perfbench/README.md says which metrics
move with each part of it."""

from __future__ import annotations

import datetime as dt
import os
import random

from . import gen
from .harness import median, more

#: (kind, count) in every deck of 21 requests; each deck is shuffled by
#: the seed, so every run sends the same mix in a different order. The
#: runtime-model lists are not in the deck: one follows every declaration
#: and every write.
MIX = (("eq_filter", 3), ("range_filter", 2), ("tag_search", 2),
       ("text_search", 2), ("group_options", 1), ("page_envelope", 2),
       ("read", 4), ("sql", 2), ("put", 2), ("delete", 1))
#: writes applied to the runtime model before it is declared again
WRITES_PER_CYCLE = 2
WRITE_KINDS = ("put", "delete")
#: runtime-model list latency is reported per lineage depth (writes
#: applied since the model was declared); each cycle lists once at each
DEPTHS = tuple(f"w{d}" for d in range(WRITES_PER_CYCLE + 1))
#: requests per deck by kind: the deck's writes start
#: ``writes / WRITES_PER_CYCLE`` cycles, each with one list per depth
DECK_MIX = {**dict(MIX), **{
    f"runtime_list.{d}": sum(n for k, n in MIX if k in WRITE_KINDS)
    / WRITES_PER_CYCLE for d in DEPTHS}}
LIST_KINDS = ("eq_filter", "range_filter", "tag_search", "text_search",
              "group_options", "page_envelope")

TICKETS = {"name": "tickets", "keys": {
    "tid": {"type": "string", "modifiers": [{"name": "id"}]},
    "status": {"type": "string", "modifiers": [{"name": "groupIndex"}]},
    "owner": {"type": "string"},
    "score": {"type": "number", "params": ["int"]},
}}
_TICKET_COLS = ("tid", "status", "owner", "score")
_STATUSES = ("open", "triage", "blocked", "done")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_WORDS = ("spark", "line", "scan", "sort", "hash", "table", "stream", "key",
          "query", "data")


class AutoApi:
    name = "autoapi_read_write"
    uses_python_workers = False
    warmup_s = 15.0
    mix = DECK_MIX
    #: the per-layer metrics this workload reports with ``--trace 1``
    layers = (
        ("catalog.load_table_ms", "ms"),
        ("catalog.load_table_calls_per_op", "count"),
        ("listquery.plan_ms", "ms"),
        *((f"listquery.exec_ms.{k}", "ms") for k in LIST_KINDS),
        ("listquery.jobs_per_op", "count"), ("listquery.tasks_per_op", "count"),
        ("listquery.rows_read_per_row_returned", "ratio"),
        ("engine.put_ms", "ms"), ("engine.read_ms", "ms"),
        ("engine.sql_ms", "ms"),
        *((f"engine.runtime_list_ms.{d}", "ms") for d in DEPTHS),
    )

    def __init__(self, work: str, seed: int, tiny: bool, ops, tracer):
        self.sf = os.path.join(work, "api", "sf")
        self.seed = seed
        self.ops, self.tracer = ops, tracer
        self.n_orders, self.n_cust, self.n_docs, self.n_tickets = (
            (300, 60, 80, 20) if tiny else (20000, 2000, 1000, 200))
        self.samples: list[dict] = []

    def generate(self) -> None:
        rng = random.Random(self.seed)
        gen.write_parquet(gen.orders(rng, self.n_orders, self.n_cust),
                          os.path.join(self.sf, "orders.parquet"))
        gen.write_parquet(gen.customers(rng, self.n_cust),
                          os.path.join(self.sf, "customer.parquet"))
        gen.write_parquet(gen.documents(rng, self.n_docs),
                          os.path.join(self.sf, "documents.parquet"))
        gen.write_parquet(gen.event_files(rng, 1, self.n_orders // 10,
                                          self.n_cust)[0],
                          os.path.join(self.sf, "events.parquet"))
        self.initial_tickets = [self._ticket(rng, f"t{i:05d}")
                                for i in range(self.n_tickets)]
        self.next_tid = self.n_tickets

    @staticmethod
    def _ticket(rng: random.Random, tid: str) -> dict:
        return {"tid": tid, "status": rng.choice(_STATUSES),
                "owner": f"user{rng.randrange(50)}",
                "score": rng.randrange(1000)}

    def setup(self, spark) -> None:
        from servihabitat_etl_spyke_spark.engine import Engine
        self.spark = spark
        self.eng = Engine(spark, self.sf)
        self.eng.register_default_models()
        self.rng = random.Random(self.seed + 1)
        self.zipf_order = gen.Zipf(self.rng, range(self.n_orders))
        self.zipf_cust = gen.Zipf(self.rng, range(self.n_cust))
        self.samples = []
        self.deck: list[str] = []
        self._declare_tickets()

    def _declare_tickets(self) -> None:
        self.eng.create_model(TICKETS, data=[dict(r) for r in
                                             self.initial_tickets])
        self.mirror = {r["tid"]: dict(r) for r in self.initial_tickets}
        self.writes = 0
        self.refresh = True      # the next request lists the model

    def trace_points(self):
        from servihabitat_etl_spyke_spark import catalog, engine
        return [(engine, "load_table", "catalog.load_table"),
                (catalog, "load_table", "catalog.load_table")]

    # -- request mix --------------------------------------------------------

    def _draw(self) -> tuple[str, dict]:
        rng = self.rng
        if self.refresh:
            self.refresh = False
            return "runtime_list", {"status": rng.choice(_STATUSES)}
        if not self.deck:
            self.deck = [k for k, n in MIX for _ in range(n)]
            rng.shuffle(self.deck)
        kind = self.deck.pop()
        if kind == "eq_filter":
            p = {"model": "orders",
                 "filter": {"o_orderstatus": rng.choice("OFP")},
                 "order_by": "o_totalprice", "order_direction": "desc",
                 "page": rng.randrange(4), "items_per_page": 20}
        elif kind == "range_filter":
            lo = rng.randrange(1000, 400000)
            p = {"model": "orders",
                 "filter": {"o_totalprice": {"from": float(lo),
                                             "to": float(lo + 20000)}},
                 "page": rng.randrange(3), "items_per_page": 20}
        elif kind == "tag_search":
            q = f"c_mktsegment:{rng.choice(_SEGMENTS).lower()}"
            if rng.random() < 0.5:
                q += f" c_nationkey:{rng.randrange(25)}"
            p = {"model": "customer", "search": q, "items_per_page": 20}
        elif kind == "text_search":
            p = {"model": "documents",
                 "search": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}",
                 "items_per_page": 10}
        elif kind == "group_options":
            p = rng.choice((
                {"model": "orders", "group": "o_orderpriority"},
                {"model": "orders", "group": "o_orderstatus"},
                {"model": "customer", "group": "c_mktsegment"},
                {"model": "documents", "group": "source"}))
        elif kind == "page_envelope":
            p = {"model": "orders",
                 "filter": {"o_orderpriority": rng.choice(
                     ("1-URGENT", "2-HIGH", "3-MEDIUM"))},
                 "page": rng.randrange(5), "items_per_page": 25}
        elif kind == "read":
            p = {"id": self.zipf_order.draw()}
        elif kind == "sql":
            p = {"cust": self.zipf_cust.draw()}
        elif kind == "put":
            rows = []
            for _ in range(rng.randint(1, 3)):
                if self.mirror and rng.random() < 0.6:
                    tid = rng.choice(sorted(self.mirror))
                else:
                    tid = f"t{self.next_tid:05d}"
                    self.next_tid += 1
                rows.append(self._ticket(rng, tid))
            p = {"rows": rows}
        else:  # delete
            p = {"ids": [rng.choice(sorted(self.mirror))
                         if self.mirror and rng.random() < 0.9
                         else "t-missing"]}
        return kind, p

    def _execute(self, kind: str, p: dict):
        """One request, its response fully materialised. Spans mark the
        planning call and the execution of each list request."""
        eng, tr = self.eng, self.tracer
        if kind in LIST_KINDS:
            kw = {k: v for k, v in p.items() if k != "model"}
            if kind == "page_envelope":
                with tr.span("listquery.exec", kind=kind):
                    env = eng.page(p["model"], **kw)
                    items = [tuple(r) for r in env["items"].collect()]
                return {**env, "items": items}
            with tr.span("listquery.plan", kind=kind):
                df = eng.list(p["model"], **kw)
            with tr.span("listquery.exec", kind=kind):
                return [tuple(r) for r in df.collect()]
        if kind == "read":
            return eng.read("orders", p["id"], view="read")
        if kind == "sql":
            return [tuple(r) for r in eng.sql(_sql(p["cust"])).collect()]
        if kind == "put":
            return eng.put("tickets", p["rows"])
        if kind == "delete":
            return eng.delete("tickets", p["ids"])
        return [tuple(r) for r in eng.list(      # runtime_list
            "tickets", filter={"status": p["status"]}, order_by="score",
            order_direction="desc", items_per_page=20).collect()]

    def run(self, deadline: float, clock) -> None:
        while more(self.ops, deadline, clock):
            if self.writes == WRITES_PER_CYCLE and not self.refresh:
                self._declare_tickets()
            kind, p = self._draw()
            writes_before = self.writes
            self.tracer.op_id = len(self.ops.records)
            label = (f"{kind}.w{writes_before}" if kind == "runtime_list"
                     else kind)
            with self.tracer.span(f"api.{kind}", writes=writes_before) as sp:
                out = self.ops.call(label, lambda: self._execute(kind, p))
            ok = self.ops.records[-1][2]
            if kind in WRITE_KINDS:
                self.writes += 1
                self.refresh = True
                self._apply_to_mirror(kind, p)
            self.samples.append({"kind": kind, "p": p, "out": out, "ok": ok,
                                 "span": sp,
                                 "expect": self._mirror_answer(kind, p)})

    # -- in-memory mirror of the runtime model -------------------------------

    def _apply_to_mirror(self, kind: str, p: dict) -> None:
        if kind == "put":
            for r in p["rows"]:
                self.mirror[r["tid"]] = dict(r)
        else:
            for i in p["ids"]:
                self.mirror.pop(i, None)

    def _mirror_answer(self, kind: str, p: dict):
        if kind != "runtime_list":
            return None
        rows = sorted((r for r in self.mirror.values()
                       if r["status"] == p["status"]),
                      key=lambda r: (-r["score"], r["tid"]))[:20]
        return [tuple(r[c] for c in _TICKET_COLS) for r in rows]

    # -- output check -------------------------------------------------------

    def check(self) -> None:
        import duckdb
        con = duckdb.connect()
        try:
            for t in ("orders", "customer", "documents"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            for s in self.samples:
                if not s["ok"] or s["kind"] in WRITE_KINDS:
                    continue
                self.ops.checked += 1
                want = (s["expect"] if s["kind"] == "runtime_list"
                        else self._duck_answer(con, s["kind"], s["p"]))
                if not _same(want, s["out"]):
                    self.ops.mismatch(f"{s['kind']} {s['p']}: want "
                                      f"{str(want)[:300]} got "
                                      f"{str(s['out'])[:300]}")
        finally:
            con.close()

    def _duck_answer(self, con, kind: str, p: dict):
        if kind == "read":
            cur = con.execute(
                f"SELECT * FROM orders WHERE o_orderkey = {int(p['id'])} "
                "LIMIT 1")
            row = cur.fetchone()
            return dict(zip([d[0] for d in cur.description], row)) \
                if row else None
        if kind == "sql":
            return con.execute(_sql(p["cust"])).fetchall()
        m = p["model"]
        cols, order, searchable = _MODELS[m]
        if kind == "group_options":
            g = p["group"]
            return con.execute(
                f"SELECT DISTINCT {g} AS option FROM {m} "
                f"ORDER BY option LIMIT 100").fetchall()
        where = ["TRUE"]
        for k, v in p.get("filter", {}).items():
            if isinstance(v, dict):
                where.append(f"{k} >= {v['from']} AND {k} <= {v['to']}")
            else:
                where.append(f"CAST({k} AS VARCHAR) = '{v}'")
        from servihabitat_etl_spyke_spark.plans.listquery import parse_search
        tags, free = parse_search(p.get("search") or "")
        for k, v in tags.items():
            where.append(f"lower(CAST({k} AS VARCHAR)) = '{v.lower()}'")
        if free:
            where.append("(" + " OR ".join(
                f"contains(lower(CAST({c} AS VARCHAR)), '{free.lower()}')"
                for c in searchable) + ")")
        w = " AND ".join(where)
        ob = p.get("order_by")
        ordering = (f"{ob} {p.get('order_direction', 'asc')}, {order}"
                    if ob else order)
        n = p.get("items_per_page", 25)
        items = con.execute(
            f"SELECT {', '.join(cols)} FROM {m} WHERE {w} ORDER BY "
            f"{ordering} LIMIT {n} OFFSET {p.get('page', 0) * n}").fetchall()
        if kind != "page_envelope":
            return items
        total = con.execute(f"SELECT count(*) FROM {m} WHERE {w}").fetchone()[0]
        return {"itemsPerPage": n, "items": items, "total": total,
                "page": p.get("page", 0), "pages": -(-total // n)}

    # -- metrics ------------------------------------------------------------

    def metrics(self) -> dict:
        from .harness import percentile
        ops, mix = self.ops, self.mix
        return {
            "api_ops_per_s": (ops.throughput(mix), "1/s"),
            "api_p50_ms": (1000 * ops.percentile(50, mix), "ms"),
            "api_p90_ms": (1000 * ops.percentile(90, mix), "ms"),
            "api_write_p50_ms": (
                1000 * percentile(self.ops.latencies(WRITE_KINDS), 50), "ms"),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {
            "catalog.load_table_ms": 1000 * median(
                tr.durations("catalog.load_table")),
            "catalog.load_table_calls_per_op": len(
                tr.durations("catalog.load_table"))
            / max(1, len(self.ops.records)),
            "listquery.plan_ms": 1000 * median(
                tr.durations("listquery.plan")),
        }
        for k in LIST_KINDS:
            out[f"listquery.exec_ms.{k}"] = 1000 * median(
                [s["end"] - s["start"] for s in tr.spans
                 if s["name"] == "listquery.exec" and s.get("kind") == k])
        listed = [s for s in self.samples
                  if s["kind"] in LIST_KINDS and s["span"] is not None]
        jobs = sum(tr.total(s["span"]["idx"], "jobs") for s in listed)
        tasks = sum(tr.total(s["span"]["idx"], "tasks") for s in listed)
        rows_in = sum(tr.total(s["span"]["idx"], "input_rows")
                      for s in listed)
        rows_out = sum(len(s["out"]["items"] if isinstance(s["out"], dict)
                           else s["out"] or ()) for s in listed)
        out["listquery.jobs_per_op"] = jobs / max(1, len(listed))
        out["listquery.tasks_per_op"] = tasks / max(1, len(listed))
        out["listquery.rows_read_per_row_returned"] = rows_in / max(1,
                                                                    rows_out)
        for name, kind in (("engine.put_ms", "put"),
                           ("engine.read_ms", "read"),
                           ("engine.sql_ms", "sql")):
            out[name] = 1000 * median(tr.durations(f"api.{kind}"))
        for d, depth in enumerate(DEPTHS):
            out[f"engine.runtime_list_ms.{depth}"] = 1000 * median(
                [s["end"] - s["start"] for s in tr.spans
                 if s["name"] == "api.runtime_list" and s["writes"] == d])
        return out


def _sql(cust: int) -> str:
    return ("SELECT o_orderstatus, count(*) AS n, max(o_totalprice) AS top "
            f"FROM orders WHERE o_custkey = {int(cust)} "
            "GROUP BY o_orderstatus ORDER BY o_orderstatus")


#: model -> (list-view columns, id ordering, free-text searchable columns)
_MODELS = {
    "orders": (("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority"), "o_orderkey", ()),
    "customer": (("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
                 "c_custkey", ("c_custkey", "c_name", "c_nationkey",
                               "c_mktsegment")),
    "documents": (("doc_id", "text", "lang", "source", "n_chars"), "doc_id",
                  ("doc_id", "text", "lang", "source")),
}


def _same(a, b) -> bool:
    """Equality with Row/tuple and datetime normalisation."""
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, dt.datetime) and isinstance(b, dt.datetime):
        return a.replace(tzinfo=None) == b.replace(tzinfo=None)
    return a == b
