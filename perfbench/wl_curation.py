"""curation_batch: the CPU- and shuffle-heavy operators. One operation is
a fixed chain of registry queries run through ``Engine.run`` over a seeded
documents corpus with planted near-duplicates: exact, MinHash-LSH, n-gram
Jaccard and SimHash dedup, text-quality signals and a column profile.
Nothing interactive; every result is collected in full."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random

from . import gen
from .harness import median, more

CHAIN = ("dedup_exact", "dedup_minhash_lsh", "neardup_jaccard",
         "dedup_simhash", "text_quality", "profile_columns")


class Curation:
    name = "curation_batch"
    uses_python_workers = True
    warmup_s = 8.0
    mix = None
    #: the per-layer metrics this workload reports with ``--trace 1``
    layers = (
        *((f"curation.{q}_s", "s") for q in CHAIN),
        ("curation.shuffle_write_mb", "MB"), ("curation.tasks", "count"),
        ("dedup.candidate_pairs_per_confirmed_pair", "ratio"),
    )

    def __init__(self, work: str, seed: int, tiny: bool, ops, tracer):
        self.sf = os.path.join(work, "curation", "sf")
        self.seed = seed
        self.ops, self.tracer = ops, tracer
        self.n_docs, self.n_orders = (60, 200) if tiny else (800, 8000)
        self.results: dict[str, tuple[list, list]] = {}

    def generate(self) -> None:
        rng = random.Random(self.seed)
        gen.write_parquet(gen.documents(rng, self.n_docs),
                          os.path.join(self.sf, "documents.parquet"))
        gen.write_parquet(gen.orders(rng, self.n_orders, 500),
                          os.path.join(self.sf, "orders.parquet"))

    def setup(self, spark) -> None:
        from servihabitat_etl_spyke_spark.engine import Engine
        from servihabitat_etl_spyke_spark.operators import dedup
        self.eng = Engine(spark, self.sf)
        self.dedup = dedup
        self.results = {}
        self.lsh = []          # (candidate pairs, confirmed pairs) per run

    def trace_points(self):
        return [(self.dedup, "lsh_candidate_pairs", "dedup.lsh_candidates",
                 self._keep_candidates)]

    def _keep_candidates(self, cand) -> None:
        self._candidates = cand

    def _chain(self) -> dict:
        out = {}
        for q in CHAIN:
            self._candidates = None
            with self.tracer.span(f"curation.{q}"):
                df = self.eng.run(q)
                out[q] = (df.columns, [tuple(r) for r in df.collect()])
            if self._candidates is not None:
                self._lsh_pending = (self._candidates, len(out[q][1]))
        return out

    def run(self, deadline: float, clock) -> None:
        while more(self.ops, deadline, clock):
            self._lsh_pending = None
            self.tracer.op_id = len(self.ops.records)
            with self.tracer.span("curation.chain"):
                out = self.ops.call("chain", self._chain, items=self.n_docs)
            if out is not None:
                self.results = out
            if self._lsh_pending is not None:
                # traced runs only: the candidate list is persisted by the
                # operator, so this count re-reads the cached pairs
                cand, confirmed = self._lsh_pending
                self.lsh.append((cand.count(), confirmed))

    # -- output check -------------------------------------------------------

    def check(self) -> None:
        import duckdb
        from servihabitat_etl_spyke_spark.queries import ORACLES
        con = duckdb.connect()
        try:
            for t in ("documents", "orders"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.sf}/{t}.parquet')")
            for q, (cols, rows) in sorted(self.results.items()):
                self.ops.checked += 1
                cur = con.execute(ORACLES[q])
                d_cols = [d[0] for d in cur.description]
                want = digest(d_cols, cur.fetchall())
                got = digest(cols, rows)
                if want != got:
                    self.ops.mismatch(f"{q}: oracle (rows, cols, hash) "
                                      f"{want} != spark {got}")
        finally:
            con.close()

    # -- metrics ------------------------------------------------------------

    def metrics(self) -> dict:
        return {"curation_docs_per_s": (self.ops.throughput(), "1/s"),
                "curation_docs": (float(self.n_docs), "count")}

    def layer_metrics(self) -> dict:
        tr = self.tracer
        out = {f"curation.{q}_s": median(tr.durations(f"curation.{q}"))
               for q in CHAIN}
        chains = max(1, len(self.ops.records))
        tops = [s for s in tr.spans if s["name"] == "curation.chain"]
        out["curation.shuffle_write_mb"] = sum(
            tr.total(s["idx"], "shuffle_write") for s in tops) / 1e6 / chains
        out["curation.tasks"] = sum(
            tr.total(s["idx"], "tasks") for s in tops) / chains
        cand = sum(c for c, _ in self.lsh)
        conf = sum(c for _, c in self.lsh)
        out["dedup.candidate_pairs_per_confirmed_pair"] = cand / max(1, conf)
        return out


def _canon(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def digest(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    """Order-insensitive (row count, sorted column names, value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h
