"""Seeded input generators. Every function takes a ``random.Random`` built
from the run's ``--seed``, so one seed always yields byte-identical inputs.
The program under test only ever sees the files these functions write."""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ENTITIES = ("promotions", "checklists", "managements",
            "products", "clients", "activitys")

_WORDS = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table stream "
          "merge data join vector customer the a of and is in to it").split()
_CITIES = ("madrid", "barcelona", "valencia", "sevilla", "bilbao", "malaga")
_MGMT_STATUS = ("in-progress", "pending", "E0004", "E0001", "DONE")
_EVENT_TYPES = ("click", "view", "signup", "purchase", "error")


# ---------------------------------------------------------------------------
# DynamoDB-JSON entity batches (etl_upsert)
# ---------------------------------------------------------------------------

def _entity_item(rng: random.Random, entity: str, eid: str | None) -> dict:
    item: dict = {}
    if eid is not None:
        item["id"] = {"S": eid}
    if entity == "promotions":
        item["products"] = {"SS": [f"p{rng.randrange(500)}"
                                   for _ in range(rng.randint(1, 3))]}
        item["name"] = {"S": f"promo {rng.choice(_WORDS)}"}
        item["city"] = {"S": rng.choice(_CITIES)}
    elif entity == "checklists":
        if rng.random() < 0.15:
            item["status"] = {"L": ""}          # malformed: '' for a list
        elif rng.random() < 0.9:
            item["status"] = {"L": [rng.choice(_WORDS)
                                    for _ in range(rng.randint(0, 3))]}
        item["productId"] = {"S": f"p{rng.randrange(500)}"}
    elif entity == "managements":
        item["clientid"] = {"S": f"c{rng.randrange(800)}"}
        item["productid"] = {"S": f"p{rng.randrange(500)}"}
        item["status"] = {"S": rng.choice(_MGMT_STATUS)}
    elif entity == "products":
        item["name"] = {"S": " ".join(rng.choices(_WORDS, k=3))}
        item["price"] = {"N": f"{rng.randrange(100, 100000) / 100:.2f}"}
    elif entity == "clients":
        item["name"] = {"S": f"client {rng.choice(_WORDS)}"}
    else:  # activitys
        item["clientId"] = {"S": f"c{rng.randrange(800)}"}
        item["productId"] = {"S": f"p{rng.randrange(500)}"}
        day = dt.date(2024, 1, 1) + dt.timedelta(days=rng.randrange(365))
        item["created"] = {"S": day.isoformat() + "T00:00:00Z"}
    return item


def dynamo_batches(rng: random.Random, entity: str, n_batches: int,
                   initial_rows: int, batch_rows: int,
                   overlap: float) -> list[list[str]]:
    """JSON lines for an initial load followed by ``n_batches - 1``
    incremental batches. Each incremental batch draws ``overlap`` of its
    ids from ids already loaded. Every batch also carries duplicate ids
    (20% for promotions, with a triple duplicate; 5% elsewhere), Item-less
    and id-less lines, unparseable lines, and the entity's edge values
    (``status: {L: ""}``, ``E0004``)."""
    known: list[str] = []
    next_id = 0
    dup_share = 0.2 if entity == "promotions" else 0.05
    batches = []
    for b in range(n_batches):
        n = initial_rows if b == 0 else batch_rows
        lines: list[str] = []
        in_batch: list[str] = []
        for _ in range(n):
            r = rng.random()
            if r < 0.01:
                lines.append(json.dumps({"NotAnItem": {}}))
                continue
            if r < 0.02:
                lines.append(json.dumps({"Item": _entity_item(rng, entity,
                                                              None)}))
                continue
            if r < 0.025:
                lines.append('{"Item": {"id": ')  # truncated line
                continue
            if in_batch and rng.random() < dup_share:
                eid = rng.choice(in_batch)
            elif b > 0 and known and rng.random() < overlap:
                eid = rng.choice(known)
            else:
                eid = f"{entity[:2]}{next_id:07d}"
                next_id += 1
            in_batch.append(eid)
            lines.append(json.dumps({"Item": _entity_item(rng, entity, eid)}))
        if entity == "promotions" and in_batch:
            eid = in_batch[0]                   # a guaranteed triple
            for _ in range(2):
                lines.append(json.dumps(
                    {"Item": _entity_item(rng, entity, eid)}))
        known.extend(dict.fromkeys(in_batch))
        batches.append(lines)
    return batches


# ---------------------------------------------------------------------------
# Parquet tables (autoapi_read_write, curation_batch)
# ---------------------------------------------------------------------------

def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choices(_WORDS, k=rng.randint(8, 60)))


def documents(rng: random.Random, n: int, near_dup: float = 0.15,
              exact_dup: float = 0.05) -> pa.Table:
    """A documents corpus with planted near-duplicates (a copy of an
    earlier doc with ~10% of its tokens replaced) and exact copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < exact_dup:
            texts.append(rng.choice(texts))
        elif texts and r < exact_dup + near_dup:
            toks = rng.choice(texts).split()
            for _ in range(max(1, len(toks) // 10)):
                toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
            texts.append(" ".join(toks))
        else:
            texts.append(_doc_text(rng))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [rng.choice(("en", "es", "fr", "zh")) for _ in range(n)],
        "source": [f"src{rng.randrange(8)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def orders(rng: random.Random, n: int, n_customers: int) -> pa.Table:
    base = dt.datetime(1992, 1, 1)
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_customers) for _ in range(n)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("OFP") for _ in range(n)],
        "o_totalprice": [rng.randrange(90000, 50000000) / 100
                         for _ in range(n)],
        "o_orderdate": pa.array(
            [base + dt.timedelta(days=rng.randrange(2400)) for _ in range(n)],
            pa.timestamp("us")),
        "o_orderpriority": [rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"))
                            for _ in range(n)],
    })


def customers(rng: random.Random, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n)],
                                pa.int32()),
        "c_acctbal": [rng.randrange(-99999, 999999) / 100 for _ in range(n)],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE",
                                     "HOUSEHOLD", "MACHINERY"))
                         for _ in range(n)],
    })


# ---------------------------------------------------------------------------
# Events, split one file per micro-batch (event_stream)
# ---------------------------------------------------------------------------

_EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def event_files(rng: random.Random, n_files: int, per_file: int,
                n_users: int) -> list[pa.Table]:
    """Time-ordered events, one every 2 s, cut into ``n_files`` files.
    Each file repeats a
    few of its own events right after the original (re-delivery inside a
    micro-batch), and each file after the first starts with a re-delivery
    of the previous file's last event (re-delivery across micro-batches).
    Both kinds keep (ts, event_id), so per-user event order is the same
    in the stream as in the batch twin."""
    t = dt.datetime(2024, 1, 1)
    eid = 0
    files: list[list[tuple]] = []
    for _ in range(n_files):
        rows: list[tuple] = []
        if files:
            rows.append(files[-1][-1])
        for _ in range(per_file):
            # a fixed 2 s step: watermarks (and the state evictions they
            # trigger) advance at the same files for every seed
            t += dt.timedelta(seconds=2)
            ev = (eid, t, rng.randrange(n_users), rng.choice(_EVENT_TYPES),
                  round(rng.random() * 200, 2),
                  json.dumps({"k": rng.randrange(100)}))
            eid += 1
            rows.append(ev)
            if rng.random() < 0.02:
                rows.append(ev)
        files.append(rows)
    return [pa.Table.from_pylist(
        [dict(zip(_EVENT_SCHEMA.names, r)) for r in rows], _EVENT_SCHEMA)
        for rows in files]


# ---------------------------------------------------------------------------
# Zipf-skewed key choice (point reads)
# ---------------------------------------------------------------------------

class Zipf:
    """Draws ranks 0..n-1 with P(k) proportional to 1/(k+1)**s; rank k maps
    to a seeded permutation of the keys, so hot keys are spread over the
    key space instead of clustering at the low ids."""

    def __init__(self, rng: random.Random, keys: list, s: float = 1.1):
        self._keys = list(keys)
        rng.shuffle(self._keys)
        acc, self._cum = 0.0, []
        for k in range(len(self._keys)):
            acc += 1.0 / (k + 1) ** s
            self._cum.append(acc)
        self._rng = rng

    def draw(self):
        x = self._rng.random() * self._cum[-1]
        return self._keys[bisect.bisect_left(self._cum, x)]


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
