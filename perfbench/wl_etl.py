"""etl_upsert: the write path. Seeded DynamoDB-JSON lines for the six
entities go through ``operators.etl.run_entity_pipeline`` and
``upsert_into_path``: an initial load, then incremental batches whose ids
overlap the loaded ones. Every batch rewrites the entity's whole store
through the snapshot swap. When an entity's last batch is applied its
store is dropped and its sequence starts again.

An initial load costs about half an incremental batch, so the entities'
sequences are staggered: the client sends the entities in turn, and in
each round of six operations entity ``k`` applies batch ``round + k``
(modulo the batch count). Every round then holds each batch index once,
and a run that stops mid-sequence sends the same mix of loads and merges
as one that does not."""

from __future__ import annotations

import json
import os
import random
import shutil

from . import gen
from .harness import dir_bytes, median, more


class EtlUpsert:
    name = "etl_upsert"
    uses_python_workers = False
    warmup_s = 15.0
    #: the per-layer metrics this workload reports with ``--trace 1``
    layers = (
        *((f"etl.pipeline_task_ms.{e}", "ms") for e in gen.ENTITIES),
        ("etl.merge_write_task_ms", "ms"), ("etl.swap_driver_ms", "ms"),
        ("etl.bytes_written_per_input_byte", "ratio"),
        ("etl.shuffle_mb", "MB"),
    )

    def __init__(self, work: str, seed: int, tiny: bool, ops, tracer):
        self.dir = os.path.join(work, "etl")
        self.rng = random.Random(seed)
        self.ops, self.tracer = ops, tracer
        if tiny:
            self.n_batches, self.initial, self.rows = 3, 40, 15
        else:
            self.n_batches, self.initial, self.rows = 6, 500, 500
        #: operation kinds are batch indexes, and every index counts alike
        self.mix = {f"etl.b{b}": 1.0 for b in range(self.n_batches)}
        self.lines: dict[str, list[list[str]]] = {}
        self.files: dict[str, list[str]] = {}
        self.first: dict[str, int] = {}     # entity -> first batch in store
        self.applied: dict[str, int] = {}   # entity -> last batch in store
        self.op_log: list[dict] = []        # per op: entity, batch, bytes

    # -- inputs -------------------------------------------------------------

    def generate(self) -> None:
        for e in gen.ENTITIES:
            self.lines[e] = gen.dynamo_batches(
                self.rng, e, self.n_batches, self.initial, self.rows,
                overlap=0.3)
            d = os.path.join(self.dir, "in", e)
            os.makedirs(d, exist_ok=True)
            self.files[e] = []
            for b, lines in enumerate(self.lines[e]):
                p = os.path.join(d, f"batch{b:03d}.jsonl")
                with open(p, "w") as fh:
                    fh.write("\n".join(lines) + "\n")
                self.files[e].append(p)

    def store(self, entity: str) -> str:
        return os.path.join(self.dir, "store", entity)

    def setup(self, spark) -> None:
        from servihabitat_etl_spyke_spark.operators import etl
        self.spark, self.etl = spark, etl
        self.op_log = []
        shutil.rmtree(os.path.join(self.dir, "store"), ignore_errors=True)
        os.makedirs(os.path.join(self.dir, "store"))
        self.first, self.applied = {}, {}
        self.pos = 0

    def trace_points(self):
        etl = self.etl
        return [(etl, "overwrite_via_tmp", "etl.swap")]

    # -- timed loop ---------------------------------------------------------

    def _one(self, entity: str, batch: int) -> None:
        etl = self.etl
        df = etl.run_entity_pipeline(self.spark, entity,
                                     self.files[entity][batch])
        etl.upsert_into_path(self.spark, df, self.store(entity))

    def run(self, deadline: float, clock) -> None:
        n = len(gen.ENTITIES)
        while more(self.ops, deadline, clock):
            rnd, k = divmod(self.pos, n)
            entity = gen.ENTITIES[k]
            batch = (rnd + k) % self.n_batches
            self.pos += 1
            restart = entity not in self.first or batch == 0
            if restart:                     # the entity's sequence starts
                shutil.rmtree(self.store(entity), ignore_errors=True)
                self.first[entity] = batch
            src = self.files[entity][batch]
            self.tracer.op_id = len(self.ops.records)
            with self.tracer.span("etl.op", entity=entity) as sp:
                self.ops.call(f"etl.b{batch}",
                              lambda: self._one(entity, batch),
                              items=len(self.lines[entity][batch]))
            self.applied[entity] = batch
            self.op_log.append({
                "entity": entity, "batch": batch, "round": rnd,
                "restart": restart, "in_bytes": os.path.getsize(src),
                "store_bytes": dir_bytes(self.store(entity)),
                "span": sp})

    # -- output check -------------------------------------------------------

    def check(self) -> None:
        import pyarrow.parquet as pq
        for entity, last in sorted(self.applied.items()):
            self.ops.checked += 1
            want = fold(entity,
                        self.lines[entity][self.first[entity]:last + 1])
            got = {r["id"]: r for r in
                   pq.read_table(self.store(entity)).to_pylist()}
            self.compare(entity, want, got)

    def compare(self, entity: str, want: dict, got: dict) -> None:
        if set(want) != set(got):
            self.ops.mismatch(
                f"{entity}: ids differ, missing {sorted(set(want) - set(got))[:3]}"
                f" extra {sorted(set(got) - set(want))[:3]}")
            return
        for k, row in want.items():
            if row != got[k]:
                self.ops.mismatch(f"{entity}[{k}]: want {row} got {got[k]}")
                return

    # -- metrics ------------------------------------------------------------

    def metrics(self) -> dict:
        rounds: dict[int, float] = {}
        for rec, o in zip(self.ops.records, self.op_log):
            rounds[o["round"]] = rounds.get(o["round"], 0.0) + rec[1]
        n = len(gen.ENTITIES)
        whole = [t for r, t in rounds.items()
                 if sum(o["round"] == r for o in self.op_log) == n]
        in_b = sum(o["in_bytes"] for o in self.op_log)
        last_store = {o["entity"]: o["store_bytes"] for o in self.op_log}
        cum_in: dict[str, int] = {}
        for o in self.op_log:
            cum_in[o["entity"]] = (o["in_bytes"] if o["restart"]
                                   else cum_in.get(o["entity"], 0)
                                   + o["in_bytes"])
        return {
            "etl_rows_per_s": (self.ops.throughput(self.mix), "1/s"),
            "etl_batch_p50_s": (median(whole), "s"),
            "etl_store_bytes_per_input_byte": (
                sum(last_store.values()) / max(1, sum(cum_in.values())),
                "ratio"),
            "etl_input_mb": (in_b / 1e6, "MB"),
        }

    def layer_metrics(self) -> dict:
        """Per entity batch, from Spark's status store: the summed task
        time of the stages that write no rows (scan, decode, entity
        transform, in-batch dedup) and of the stage that writes the new
        snapshot (anti-join against the stored rows, union, parquet
        write); the swap's driver time outside Spark jobs (recovery check,
        stale stamp, renames, removal of the old snapshot)."""
        tr = self.tracer
        traced = [o for o in self.op_log if o["span"] is not None]
        out = {}
        for e in gen.ENTITIES:
            out[f"etl.pipeline_task_ms.{e}"] = median(
                [tr.total(o["span"]["idx"], "task_ms_other")
                 for o in traced if o["entity"] == e])
        out["etl.merge_write_task_ms"] = median(
            [tr.total(o["span"]["idx"], "task_ms_write") for o in traced])
        out["etl.swap_driver_ms"] = 1000 * median(
            [tr.outside_jobs(s["idx"]) for s in tr.spans
             if s["name"] == "etl.swap" and s["end"] is not None])
        out["etl.bytes_written_per_input_byte"] = (
            sum(o["store_bytes"] for o in traced)
            / max(1, sum(o["in_bytes"] for o in traced)))
        out["etl.shuffle_mb"] = median(
            [tr.total(o["span"]["idx"], "shuffle_write") / 1e6
             for o in traced])
        return out


# ---------------------------------------------------------------------------
# Pure-Python reference fold of the generated lines
# ---------------------------------------------------------------------------

_ATTRS = {
    "promotions": {"id": "S", "products": "SS", "name": "S", "city": "S"},
    "checklists": {"id": "S", "status": "L", "productId": "S"},
    "managements": {"id": "S", "clientid": "S", "productid": "S",
                    "status": "S"},
    "products": {"id": "S", "name": "S", "price": "N"},
    "clients": {"id": "S", "name": "S"},
    "activitys": {"id": "S", "clientId": "S", "productId": "S",
                  "created": "S"},
}


def _decode(entity: str, line: str) -> dict | None:
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    item = obj.get("Item") if isinstance(obj, dict) else None
    if not isinstance(item, dict):
        return None
    row = {}
    for name, tag in _ATTRS[entity].items():
        v = item.get(name, {}).get(tag) if isinstance(item.get(name), dict) \
            else None
        if tag == "N" and v is not None:
            v = float(v)
        row[name] = v
    return row if row["id"] is not None else None


def _transform_batch(entity: str, lines: list[str]) -> dict:
    rows = [r for r in (_decode(entity, ln) for ln in lines) if r]
    out: dict[str, dict] = {}
    if entity == "promotions":
        # first occurrence keeps its scalars; products concatenate in order
        for r in rows:
            prods = r["products"] or []
            if r["id"] in out:
                out[r["id"]]["products"] = out[r["id"]]["products"] + prods
            else:
                out[r["id"]] = {**r, "products": list(prods)}
        return out
    for r in rows:                       # last write wins inside a batch
        if entity == "checklists":
            st = r["status"]
            r["status"] = st if isinstance(st, list) else []
        elif entity == "managements":
            r["clientId"] = r.pop("clientid")
            r["productId"] = r.pop("productid")
            s = r["status"]
            r["status"] = (s if s in ("in-progress", "pending")
                           else "pending" if s == "E0004" else "in-progress")
        out[r["id"]] = r
    return out


def fold(entity: str, batches: list[list[str]]) -> dict:
    """The store the pipeline must leave after ``batches``: each batch's
    transformed rows replace the stored rows with the same id."""
    store: dict[str, dict] = {}
    for lines in batches:
        store.update(_transform_batch(entity, lines))
    return store
