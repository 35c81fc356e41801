"""Named query catalog: every implemented operator from SURVEY.md §2 exposed
as a (spark, sf_dir) -> DataFrame callable, with a matching DuckDB oracle SQL
string where the semantics are ANSI-SQL-expressible.

Registration: decorate with ``@query(name, oracle=...)``. ``__spark_entry__``
re-exports ``QUERIES`` / ``ORACLES`` verbatim.

Determinism rules (driver hashes values with columns sorted by name):
- every computed column aliased identically in Spark and SQL;
- float aggregates rounded to a fixed scale on both sides;
- timestamps emitted as formatted strings (Spark session TZ is UTC; DuckDB is
  UTC-naive);
- top-k / pagination always ordered with a unique tiebreak column.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window as W

from .catalog import load_table
from .model import FieldSpec, model
from .operators.etl import (decode_dynamodb_json, encode_dynamodb_json,
                            keyed_upsert, managements_transform)
from .plans.listquery import ListParams, group_options, list_query

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# north-star registrations live in queries_northstar.py; imported at the
# bottom of this module so they share these registries.


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            # last-import-wins would silently swap the query AND its
            # oracle under a name that earlier CORRECTNESS/BENCH rounds
            # already recorded — corrupting cross-round tracking
            raise ValueError(
                f"@query({name!r}): name already registered by "
                f"{QUERIES[name].__module__}.{QUERIES[name].__qualname__}"
                " — pick a distinct name")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


# round2/roundn — the engine-stable rounding contract — live in
# functions/core.py (cycle-free for the streaming modules) and are
# re-exported here for the query modules that import them from queries.
from .functions.core import round2, roundn  # noqa: E402,F401


def fixture_base(name: str) -> str:
    """Per-PROCESS scratch directory for a query fixture rebuilt in
    place: ``{tmpdir}/{name}_{pid}``, rmtree'd clean before return and
    removed again at interpreter exit.

    One shared helper for every fixture-bearing query (bucketed-join
    layout, snapshot stores): the fixed path avoids leaking one tree per
    bench attempt / correctness round WITHIN a process, the pid suffix
    keeps two concurrent Spark processes on one host (bench + pytest)
    from rmtree'ing each other's live fixture mid-read, and the atexit
    hook keeps repeated process launches from leaking one tree per pid
    (a SIGKILLed process still leaks its dir — bounded by tmpdir
    rotation)."""
    import atexit
    import os
    import shutil
    import tempfile

    base = f"{tempfile.gettempdir()}/{name}_{os.getpid()}"
    shutil.rmtree(base, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return base


# ---------------------------------------------------------------------------
# Models (annotation metadata for the planner; SURVEY.md §1.2)
# ---------------------------------------------------------------------------

ORDERS = model(
    "orders",
    FieldSpec("o_orderkey", is_id=True, indexed=True),
    FieldSpec("o_custkey", link_to=("customer", "c_custkey")),
    FieldSpec("o_orderstatus", group_index=True),
    FieldSpec("o_totalprice", indexed=True),
    FieldSpec("o_orderdate", indexed=True),
    FieldSpec("o_orderpriority", group_index=True),
    default_order_by="o_orderkey",
)

CUSTOMER = model(
    "customer",
    FieldSpec("c_custkey", is_id=True, indexed=True),
    FieldSpec("c_name"),
    FieldSpec("c_nationkey", link_to=("nation", "n_nationkey")),
    FieldSpec("c_acctbal", secret=True),          # projection-masking demo
    FieldSpec("c_mktsegment", group_index=True),
    default_order_by="c_custkey",
)

DOCUMENTS = model(
    "documents",
    FieldSpec("doc_id", is_id=True, indexed=True),
    FieldSpec("text"),
    FieldSpec("lang", group_index=True),
    FieldSpec("source", group_index=True),
    FieldSpec("n_chars", searchable=False),       # search(false) parity
    default_order_by="doc_id",
)

EVENTS = model(
    "events",
    FieldSpec("event_id", is_id=True, indexed=True),
    FieldSpec("ts", indexed=True),
    FieldSpec("user_id"),
    FieldSpec("event_type", group_index=True),
    FieldSpec("value"),
    FieldSpec("props"),
    default_order_by="ts",
    default_order_direction="desc",               # events newest-first (O4)
)


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (the north-star standard-aggregate
# surface; reference itself has only counts — SURVEY.md §2.4)
# ---------------------------------------------------------------------------

@query("q1_pricing_summary", oracle="""
SELECT l_returnflag, l_linestatus,
       floor(sum(l_quantity) * 100 + 0.5) / 100                 AS sum_qty,
       floor(sum(l_extendedprice) * 100 + 0.5) / 100            AS sum_base_price,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
                                                                AS sum_disc_price,
       floor(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100
             + 0.5) / 100                                       AS sum_charge,
       floor(avg(l_quantity) * 10000 + 0.5) / 10000             AS avg_qty,
       floor(avg(l_extendedprice) * 10000 + 0.5) / 10000        AS avg_price,
       floor(avg(l_discount) * 1000000 + 0.5) / 1000000         AS avg_disc,
       count(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round2(F.sum("l_quantity")).alias("sum_qty"),
            round2(F.sum("l_extendedprice")).alias("sum_base_price"),
            round2(F.sum(disc_price)).alias("sum_disc_price"),
            round2(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            roundn(F.avg("l_quantity"), 4).alias("avg_qty"),
            roundn(F.avg("l_extendedprice"), 4).alias("avg_price"),
            roundn(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# List-query family (P1-P6, O1-O3, A5) — the AutoAPI list endpoint semantics
# ---------------------------------------------------------------------------

@query("list_eq_filter", oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders
WHERE CAST(o_orderstatus AS VARCHAR) = 'F'
ORDER BY o_orderkey
LIMIT 25
""")
def list_eq_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: string-coerced equality filter + default order + first page."""
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    return list_query(df, ORDERS, ListParams(filter={"o_orderstatus": "F"}))


@query("list_range_filter", oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice >= 100000 AND o_totalprice <= 150000
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 50
""")
def list_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: inclusive {from,to} range filter, desc order, page size 50."""
    df = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return list_query(df, ORDERS, ListParams(
        filter={"o_totalprice": {"from": 100000, "to": 150000}},
        order_by="o_totalprice", order_direction="desc", items_per_page=50))


@query("list_tag_search", oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders
WHERE lower(CAST(o_orderpriority AS VARCHAR)) = '1-urgent'
  AND lower(CAST(o_orderstatus AS VARCHAR)) = 'f'
ORDER BY o_orderkey
LIMIT 25
""")
def list_tag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: tagged search `key:value` -> conjunctive case-insensitive equality."""
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority")
    return list_query(df, ORDERS, ListParams(
        search='o_orderpriority:"1-URGENT" o_orderstatus:f'))


@query("list_free_text", oracle="""
SELECT doc_id, lang, source
FROM documents
WHERE contains(lower(CAST(text AS VARCHAR)), 'vector')
   OR contains(lower(CAST(lang AS VARCHAR)), 'vector')
   OR contains(lower(CAST(source AS VARCHAR)), 'vector')
   OR contains(lower(CAST(doc_id AS VARCHAR)), 'vector')
ORDER BY doc_id
LIMIT 100
""")
def list_free_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: free-text substring over searchable columns (n_chars is
    search(false) and must NOT participate)."""
    df = load_table(spark, sf_dir, "documents")
    out = list_query(df, DOCUMENTS, ListParams(search="vector", items_per_page=100))
    return out.select("doc_id", "lang", "source")


@query("list_path_prefix", oracle="""
SELECT doc_id, source
FROM documents
WHERE starts_with(source, 'src1')
ORDER BY doc_id
LIMIT 100
""")
def list_path_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: hierarchical path-prefix filter (events path startswith)."""
    df = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return list_query(df, DOCUMENTS, ListParams(
        path_prefix="src1", path_column="source", items_per_page=100))


@query("projection_masking", oracle="""
SELECT c_custkey, c_name, c_nationkey, c_mktsegment
FROM customer
ORDER BY c_custkey
LIMIT 25
""")
def projection_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: secret column (c_acctbal) masked out of the list view."""
    df = load_table(spark, sf_dir, "customer")
    return list_query(df, CUSTOMER, ListParams())


@query("pagination_deep_page", oracle="""
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25 OFFSET 75
""")
def pagination_deep_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2/O3: ordered page fetch, page=3 at 25/page (offset 75)."""
    df = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return list_query(df, ORDERS, ListParams(
        order_by="o_totalprice", order_direction="desc", page=3))


@query("group_options", oracle="""
SELECT option FROM (
  SELECT DISTINCT o_orderpriority AS option FROM orders
) WHERE lower(CAST(option AS VARCHAR)) LIKE '1%'
ORDER BY option
LIMIT 100
""")
def group_options_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/P12: distinct group values with prefix search, limit 100."""
    df = load_table(spark, sf_dir, "orders")
    return group_options(df, "o_orderpriority", search="1")


# ---------------------------------------------------------------------------
# Aggregation family (A1-A4, A7)
# ---------------------------------------------------------------------------

@query("total_count", oracle="SELECT count(*) AS total FROM lineitem")
def total_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: materialized total count (parquet metadata-fast in Spark)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("total"))


@query("group_count", oracle="""
SELECT c_mktsegment, count(*) AS cnt
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""")
def group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-group counts (the group-index counters)."""
    return (load_table(spark, sf_dir, "customer")
            .groupBy("c_mktsegment").agg(F.count("*").alias("cnt"))
            .orderBy("c_mktsegment"))


@query("group_index_build", oracle="""
SELECT c_mktsegment,
       count(*) AS cnt,
       array_to_string(list(CAST(c_custkey AS VARCHAR) ORDER BY c_custkey), ',') AS ids
FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
""")
def group_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: group-by index = per-group ordered id list + count
    (db.ts:476-545). Ordered id list via sort_array(collect_list)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("cnt"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("c_custkey")),
                            lambda k: k.cast("string")),
                ",").alias("ids"),
        )
        .orderBy("c_mktsegment")
    )


@query("pages_envelope", oracle="""
SELECT count(*) AS total,
       CAST(ceil(count(*) / 25.0) AS BIGINT) AS pages,
       25 AS items_per_page
FROM orders WHERE CAST(o_orderstatus AS VARCHAR) = 'O'
""")
def pages_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/O3: the pagination envelope math (pages = ceil(total/n))."""
    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").cast("string") == "O")
    return df.agg(
        F.count("*").alias("total"),
        F.ceil(F.count("*") / 25.0).alias("pages"),
        F.lit(25).alias("items_per_page"),
    )


@query("multi_prefix_group", oracle="""
WITH paths AS (
  SELECT event_type || '/u' || CAST(user_id % 10 AS VARCHAR)
         || '/' || CAST(event_id % 7 AS VARCHAR) AS path
  FROM events
), exploded AS (
  SELECT unnest(list_transform(
           range(1, len(string_split(path, '/')) + 1),
           i -> array_to_string(string_split(path, '/')[1:i], '/'))) AS prefix
  FROM paths
)
SELECT prefix, count(*) AS cnt FROM exploded GROUP BY prefix ORDER BY prefix
""")
def multi_prefix_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/F15: multi-membership grouping — every path indexed under ALL its
    prefixes ("a/b/c" -> ["a","a/b","a/b/c"], eventsSchemas.ts:6), then
    per-prefix counts. Pure JVM-side array ops (no UDF): transform(sequence)
    + slice + array_join, then explode + groupBy."""
    from .functions.core import path_prefixes
    ev = load_table(spark, sf_dir, "events")
    path = F.concat(
        F.col("event_type"), F.lit("/u"), (F.col("user_id") % 10).cast("string"),
        F.lit("/"), (F.col("event_id") % 7).cast("string"))
    df = ev.select(path.alias("path"))
    return (df.select(F.explode(path_prefixes("path", "/")).alias("prefix"))
            .groupBy("prefix").agg(F.count("*").alias("cnt"))
            .orderBy("prefix"))


# ---------------------------------------------------------------------------
# Join family (J1-J3, A6)
# ---------------------------------------------------------------------------

@query("link_join", oracle="""
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
ORDER BY o_orderkey
LIMIT 100
""")
def link_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: linkTo FK resolution = broadcast left join to the dimension
    (generateApi.ts:166-177 recoverLinks). The dim side is broadcast —
    at 100 TB the fact side never shuffles."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey, "left")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy("o_orderkey").limit(100)
    )


@query("read_multiple", oracle="""
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 997 = 0)
ORDER BY l_orderkey, l_linenumber
""")
def read_multiple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: batched point-read = LEFT SEMI join against the requested id set,
    silently skipping missing ids (generateApi.ts:309-327)."""
    li = load_table(spark, sf_dir, "lineitem")
    ids = (load_table(spark, sf_dir, "orders")
           .filter(F.col("o_orderkey") % 997 == 0).select("o_orderkey"))
    return (li.join(F.broadcast(ids), li.l_orderkey == ids.o_orderkey, "left_semi")
            .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
            .orderBy("l_orderkey", "l_linenumber"))


@query("dedup_merge_first_wins", oracle="""
SELECT l_orderkey,
       arg_min(l_returnflag, printf('%06d-%012d-%012d', l_linenumber, l_partkey, l_suppkey)) AS first_flag,
       arg_min(l_quantity,   printf('%06d-%012d-%012d', l_linenumber, l_partkey, l_suppkey)) AS first_qty,
       array_to_string(list(CAST(l_partkey AS VARCHAR)
                            ORDER BY l_linenumber, l_partkey), ',') AS merged_parts
FROM lineitem
GROUP BY l_orderkey
ORDER BY l_orderkey
""")
def dedup_merge_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/U3: the promotions dedup-merge — first occurrence wins the scalar
    fields, duplicate rows' array fields are concatenated IN ROW ORDER with
    no dedup inside the array (models/ETL.ts:13-28). Row order here is the
    ingestion-order analog (l_linenumber, l_partkey, l_suppkey) — the
    synthetic data has duplicate linenumbers, so determinism needs the full
    unique composite (SURVEY.md §4.3.2).

    One collect_list of (order-key, values) structs per group, sorted once
    by the composite struct comparator: element [0] yields the first-wins
    scalars and a projection yields the ordered merge — a single aggregate
    buffer and one shuffle, no per-row string key construction (measured
    ~3-4x faster than three ordered aggs with format_string keys at
    sf0.1)."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = F.array_sort(F.collect_list(F.struct(
        F.col("l_linenumber").alias("o1"),
        F.col("l_partkey").alias("o2"),
        F.col("l_suppkey").alias("o3"),
        F.col("l_returnflag").alias("rf"),
        F.col("l_quantity").alias("qty"))))
    return (
        li.groupBy("l_orderkey")
        .agg(arr.alias("arr"))
        .select(
            "l_orderkey",
            F.col("arr")[0]["rf"].alias("first_flag"),
            F.col("arr")[0]["qty"].alias("first_qty"),
            # arr is sorted by (o1,o2,o3,...): projecting o2 yields the
            # (l_linenumber, l_partkey) order the merge requires
            F.array_join(
                F.transform(F.col("arr"), lambda s: s["o2"].cast("string")),
                ",").alias("merged_parts"),
        )
        .orderBy("l_orderkey")
    )


@query("dedup_first_wins", oracle="""
SELECT l_orderkey,
       arg_min(l_linenumber, printf('%06d-%012d-%012d', l_linenumber, l_partkey, l_suppkey)) AS l_linenumber,
       arg_min(l_partkey,    printf('%06d-%012d-%012d', l_linenumber, l_partkey, l_suppkey)) AS l_partkey,
       arg_min(l_quantity,   printf('%06d-%012d-%012d', l_linenumber, l_partkey, l_suppkey)) AS l_quantity
FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey
""")
def dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: dedup by id keeping the FIRST row (ETL.ts:16-20 findIndex
    semantics) — min_by on the ingestion-order key, not dropDuplicates
    (which is nondeterministic under shuffle). The order key is a struct
    comparator (no per-row string formatting); one min_by buffer carries
    all kept columns."""
    li = load_table(spark, sf_dir, "lineitem")
    ordkey = F.struct("l_linenumber", "l_partkey", "l_suppkey")
    kept = F.min_by(
        F.struct("l_linenumber", "l_partkey", "l_quantity"), ordkey)
    return (li.groupBy("l_orderkey").agg(kept.alias("kept"))
            .select("l_orderkey", "kept.l_linenumber", "kept.l_partkey",
                    "kept.l_quantity")
            .orderBy("l_orderkey"))


# ---------------------------------------------------------------------------
# ETL family (S1, J3 covered above; F7/F8/F9, DynamoDB wire format, S6 upsert)
# ---------------------------------------------------------------------------

@query("etl_dynamodb_roundtrip", oracle="""
SELECT CAST(p_partkey AS VARCHAR) AS id, p_name AS name,
       CAST(p_retailprice AS DOUBLE) AS price
FROM part ORDER BY p_partkey
""")
def etl_dynamodb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DynamoDB-JSON wire format: encode part rows to typed JSON lines
    ({"Item":{id:{S},name:{S},price:{N}}}) then decode back to plain columns
    — the decode path is exactly the ETL ingest decoder (etl.ts:48 +
    SURVEY.md §1.2). Round-trip equals a plain projection, which is the
    oracle. get_json_object/to_json are JVM-side; no Python in the loop."""
    attrs = {"id": "S", "name": "S", "price": "N"}
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("string").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"))
    lines = encode_dynamodb_json(part, attrs)
    return decode_dynamodb_json(lines, attrs).orderBy(F.col("id").cast("bigint"))


@query("etl_enum_normalize", oracle="""
WITH managements AS (
  SELECT o_orderkey AS id,
         CASE WHEN o_orderstatus = 'F' THEN 'E0004'
              WHEN o_orderstatus = 'O' THEN 'pending'
              ELSE 'E0001' END AS status
  FROM orders
)
SELECT id,
       CASE WHEN status IN ('in-progress', 'pending') THEN status
            WHEN status = 'E0004' THEN 'pending'
            ELSE 'in-progress' END AS status
FROM managements ORDER BY id
""")
def etl_enum_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: the managements status normalization (ETL.ts:55-57) — known
    values kept, E0004 -> pending, everything else -> in-progress. Input
    statuses synthesized from o_orderstatus to hit all three branches."""
    orders = load_table(spark, sf_dir, "orders")
    synth = orders.select(
        F.col("o_orderkey").alias("id"),
        F.when(F.col("o_orderstatus") == "F", "E0004")
         .when(F.col("o_orderstatus") == "O", "pending")
         .otherwise("E0001").alias("status"))
    return managements_transform(synth).orderBy("id")


@query("etl_empty_list_sanitize", oracle="""
SELECT event_id,
       CASE WHEN raw = '' OR raw IS NULL THEN 0
            ELSE len(CAST(raw AS JSON)::VARCHAR[]) END AS n_status,
       CASE WHEN raw = '' OR raw IS NULL THEN ''
            ELSE array_to_string(CAST(raw AS JSON)::VARCHAR[], ',') END AS status_csv
FROM (
  SELECT event_id,
         CASE WHEN user_id % 5 = 0 THEN ''
              ELSE '["' || event_type || '","x"]' END AS raw
  FROM events
) ORDER BY event_id
""")
def etl_empty_list_sanitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: the checklists '' -> [] sanitize (ETL.ts:30-39). A raw JSON-list
    column where ~20% of rows carry the malformed empty string becomes a
    real array column; emitted as size + csv so the oracle compares scalars."""
    from .operators.etl import checklists_transform
    ev = load_table(spark, sf_dir, "events")
    synth = ev.select(
        "event_id",
        F.when(F.col("user_id") % 5 == 0, F.lit(""))
         .otherwise(F.concat(F.lit('["'), F.col("event_type"), F.lit('","x"]')))
         .alias("status_raw"))
    out = checklists_transform(synth)
    return (out.select(
        "event_id",
        F.size("status").alias("n_status"),
        F.array_join("status", ",").alias("status_csv"))
        .orderBy("event_id"))


@query("etl_keyed_upsert", oracle="""
WITH existing AS (
  SELECT o_orderkey AS id, 'old' AS version, o_totalprice AS price
  FROM orders WHERE o_orderkey < 1000
), incoming AS (
  SELECT o_orderkey AS id, 'new' AS version,
         floor(o_totalprice * 1.1 * 100 + 0.5) / 100 AS price
  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500
)
SELECT id, version, price FROM existing WHERE id NOT IN (SELECT id FROM incoming)
UNION ALL
SELECT id, version, price FROM incoming
ORDER BY id
""")
def etl_keyed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/S6: keyed upsert (DynamoDB PutItem overwrite) — incoming replaces
    existing on key collision, new keys append. One keyed aggregate over
    the union of both sides: a single hash shuffle on the key, in which
    the existing rows cross the exchange too."""
    orders = load_table(spark, sf_dir, "orders")
    existing = orders.filter(F.col("o_orderkey") < 1000).select(
        F.col("o_orderkey").alias("id"), F.lit("old").alias("version"),
        F.col("o_totalprice").alias("price"))
    incoming = orders.filter((F.col("o_orderkey") >= 500)
                             & (F.col("o_orderkey") < 1500)).select(
        F.col("o_orderkey").alias("id"), F.lit("new").alias("version"),
        round2(F.col("o_totalprice") * 1.1).alias("price"))
    return keyed_upsert(existing, incoming, "id").orderBy("id")


@query("etl_cascade_delete", oracle="""
WITH delc AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
c2 AS (SELECT * FROM customer
       WHERE c_custkey NOT IN (SELECT c_custkey FROM delc)),
o2 AS (SELECT * FROM orders
       WHERE o_custkey NOT IN (SELECT c_custkey FROM delc)),
delo AS (SELECT o_orderkey FROM orders
         WHERE o_custkey IN (SELECT c_custkey FROM delc)),
l2 AS (SELECT * FROM lineitem
       WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo)),
cn AS (SELECT c_nationkey AS nationkey, count(*) AS n_customers
       FROM c2 GROUP BY 1),
onn AS (SELECT c2.c_nationkey AS nationkey, count(*) AS n_orders
        FROM o2 JOIN c2 ON o2.o_custkey = c2.c_custkey GROUP BY 1),
ln AS (SELECT c2.c_nationkey AS nationkey, count(*) AS n_lineitems
       FROM l2 JOIN o2 ON l2.l_orderkey = o2.o_orderkey
       JOIN c2 ON o2.o_custkey = c2.c_custkey GROUP BY 1)
SELECT cn.nationkey, cn.n_customers,
       CAST(coalesce(onn.n_orders, 0) AS BIGINT) AS n_orders,
       CAST(coalesce(ln.n_lineitems, 0) AS BIGINT) AS n_lineitems
FROM cn LEFT JOIN onn USING (nationkey) LEFT JOIN ln USING (nationkey)
ORDER BY nationkey
""")
def etl_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: ENFORCED deleteOnCascade (`ProtoModel.ts:280-284` declares the
    option; `operators/etl.py::cascade_delete` supplies the semantics):
    deleting negative-balance customers cascades one hop to their orders
    and — by re-applying the same operator, the documented multi-hop
    composition — a second hop to those orders' lineitems. Output: the
    surviving customer/order/lineitem counts per nation. All deletions
    are anti-joins on the id key; the delete batch broadcasts."""
    from .operators.etl import cascade_delete
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    deleted_cust = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    cust2, orders2 = cascade_delete(
        cust, orders, "o_custkey", deleted_cust,
        parent_id_col="c_custkey")
    deleted_orders = (orders.join(
        deleted_cust.withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey", "left_semi").select("o_orderkey"))
    # hop 2: only the CHILD side does work — orders2 already removed the
    # deleted-customer orders in hop 1, so the returned parent frame
    # would be a guaranteed-no-op anti-join over the full orders table;
    # discard it and keep using orders2 (one anti-join pass per hop)
    _, li_after = cascade_delete(
        orders2, li, "l_orderkey", deleted_orders,
        parent_id_col="o_orderkey")
    nat = F.col("c_nationkey").alias("nationkey")
    cn = cust2.groupBy(nat).agg(F.count("*").alias("n_customers"))
    onn = (orders2
           .join(cust2.select("c_custkey", "c_nationkey"),
                 orders2.o_custkey == F.col("c_custkey"))
           .groupBy(nat).agg(F.count("*").alias("n_orders")))
    lnn = (li_after
           .join(orders2.select("o_orderkey", "o_custkey"),
                 li_after.l_orderkey == F.col("o_orderkey"))
           .join(cust2.select("c_custkey", "c_nationkey"),
                 F.col("o_custkey") == F.col("c_custkey"))
           .groupBy(nat).agg(F.count("*").alias("n_lineitems")))
    return (cn.join(onn, "nationkey", "left")
            .join(lnn, "nationkey", "left")
            .select("nationkey", "n_customers",
                    F.coalesce("n_orders", F.lit(0)).cast("long")
                    .alias("n_orders"),
                    F.coalesce("n_lineitems", F.lit(0)).cast("long")
                    .alias("n_lineitems"))
            .orderBy("nationkey"))


# ---------------------------------------------------------------------------
# Scalar function family (F1-F15)
# ---------------------------------------------------------------------------

@query("fn_split_join", oracle="""
SELECT p_partkey,
       array_to_string(string_split(p_type, ' '), '-') AS dashed,
       len(string_split(p_type, ' ')) AS n_tokens
FROM part ORDER BY p_partkey
""")
def fn_split_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: split by literal separator then re-join with another."""
    from .functions.core import join_array, split_column
    part = load_table(spark, sf_dir, "part")
    toks = split_column("p_type", " ")
    return (part.select(
        "p_partkey",
        join_array(toks, "-").alias("dashed"),
        F.size(toks).alias("n_tokens"))
        .orderBy("p_partkey"))


@query("fn_json_parse", oracle="""
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       count(*) AS cnt
FROM events GROUP BY event_type ORDER BY event_type
""")
def fn_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: JSON-string column -> typed value, aggregated. get_json_object
    is JVM-side (no UDF); at scale the parse happens inside codegen."""
    from .functions.core import json_get
    ev = load_table(spark, sf_dir, "events")
    return (ev.select("event_type",
                      json_get("props", "$.k").cast("bigint").alias("k"))
            .groupBy("event_type")
            .agg(F.sum("k").alias("sum_k"), F.count("*").alias("cnt"))
            .orderBy("event_type"))


@query("fn_add_object_key", oracle="""
SELECT l_orderkey, l_linenumber, l_partkey,
       floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) / 100 AS revenue
FROM lineitem
WHERE l_orderkey < 500
ORDER BY l_orderkey, l_linenumber, l_partkey
""")
def fn_add_object_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: immutably add a computed key to every row."""
    from .functions.core import add_object_key
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    out = add_object_key(
        li, "revenue",
        round2(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    return (out.select("l_orderkey", "l_linenumber", "l_partkey", "revenue")
            .orderBy("l_orderkey", "l_linenumber", "l_partkey"))


@query("fn_uuid_validate", oracle="""
WITH u AS (
  SELECT c_custkey,
         substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) || '-' ||
         substr(md5(CAST(c_custkey AS VARCHAR)), 9, 4) || '-4' ||
         substr(md5(CAST(c_custkey AS VARCHAR)), 14, 3) || '-a' ||
         substr(md5(CAST(c_custkey AS VARCHAR)), 18, 3) || '-' ||
         substr(md5(CAST(c_custkey AS VARCHAR)), 21, 12) AS uid
  FROM customer
)
SELECT c_custkey, uid,
       CASE WHEN regexp_matches(uid,
         '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
       THEN true ELSE false END AS valid,
       CAST(substr(uid, 15, 1) AS INT) AS version
FROM u ORDER BY c_custkey
""")
def fn_uuid_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: uuid validation + version extraction over deterministic
    md5-derived uuid-shaped strings."""
    from .functions.core import uuid_validate, uuid_version
    cust = load_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    uid = F.concat(
        F.substring(h, 1, 8), F.lit("-"), F.substring(h, 9, 4), F.lit("-4"),
        F.substring(h, 14, 3), F.lit("-a"), F.substring(h, 18, 3), F.lit("-"),
        F.substring(h, 21, 12))
    return (cust.select("c_custkey", uid.alias("uid"))
            .withColumn("valid", uuid_validate("uid"))
            .withColumn("version", uuid_version("uid"))
            .orderBy("c_custkey"))


@query("fn_password_hash", oracle="""
SELECT c_custkey, sha256(c_name) AS pw_hash
FROM customer ORDER BY c_custkey
""")
def fn_password_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: the onCreate 'cypher' transformer hook (usersAPI.ts:9-15)."""
    from .functions.core import password_hash
    return (load_table(spark, sf_dir, "customer")
            .select("c_custkey", password_hash("c_name").alias("pw_hash"))
            .orderBy("c_custkey"))


@query("fn_iso_timestamp", oracle="""
SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') AS iso
FROM events ORDER BY event_id
""")
def fn_iso_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: ISO-8601 timestamp strings (the reference stores timestamps as
    ISO strings; SURVEY.md §1.2)."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("iso"))
        .orderBy("event_id"))


@query("fn_time_sortable_id")  # nondeterministic (now + uuid) -> rows-only check
def fn_time_sortable_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: generated primary key 'YYYYMM-DDHHmm-ssSSS-<uuid8>' — value is
    time-dependent so there is no SQL oracle; the pytest suite asserts shape
    and lexicographic-sortability instead."""
    from .functions.core import apply_generators, gen_time_sortable_id
    cust = load_table(spark, sf_dir, "customer").limit(100)
    out = apply_generators(cust, {"gen_id": gen_time_sortable_id})
    return out.select("c_custkey", "gen_id")


# ---------------------------------------------------------------------------
# Analytics / window family (north-star standard aggregates + T5 batch form)
# ---------------------------------------------------------------------------

@query("q3_shipping_priority", oracle="""
SELECT l_orderkey,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
         AS revenue,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> group -> top-k.
    customer is broadcast; lineitem (the 100-TB side) shuffles once on the
    join key; the LIMIT becomes TakeOrdered (no global sort)."""
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"))
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
             .alias("revenue"))
        .select("l_orderkey", "revenue",
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
                "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query("q5_region_revenue", oracle="""
SELECT n_name,
       floor(sum(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
         AS revenue
FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name ORDER BY n_name
""")
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake dim chain collapses to broadcast joins;
    only the fact scan is large."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dims = (sup.join(nat, sup.s_nationkey == nat.n_nationkey)
            .join(reg, nat.n_regionkey == reg.r_regionkey)
            .select("s_suppkey", "n_name"))
    # no broadcast hint: supplier scales with data volume — size estimates
    # broadcast it while it fits, AQE switches to shuffle when it doesn't
    return (li.join(dims, li.l_suppkey == dims.s_suppkey)
            .groupBy("n_name")
            .agg(round2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
                 .alias("revenue"))
            .orderBy("n_name"))


@query("window_topk_per_group", oracle="""
SELECT event_type, event_id, value, rnk FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rnk
  FROM events
) WHERE rnk <= 3 ORDER BY event_type, rnk
""")
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranking window (the reference's 'newest-first
    page per group' generalized)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    return (ev.select("event_type", "event_id", "value",
                      F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= 3)
            .orderBy("event_type", "rnk"))


@query("window_tumbling_hourly", oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       event_type, count(*) AS cnt, floor(sum(value) * 100 + 0.5) / 100 AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""")
def window_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (absent in the reference;
    Spark built-in — SURVEY.md §2.8 'absent' note). Batch form of the
    streaming window() aggregation."""
    ev = load_table(spark, sf_dir, "events")
    return (ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("hour_start"),
        "event_type")
        .agg(F.count("*").alias("cnt"),
             round2(F.sum("value")).alias("sum_value"))
        .orderBy("hour_start", "event_type"))


@query("sessionize", oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER w <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id
""")
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap -> new session (lag +
    running sum of boundary flags). Batch twin of the streaming
    session_window operator."""
    from .functions.core import epoch_micros
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap (matches the oracle's INTERVAL comparison and
    # survives TIMESTAMP_NTZ inputs, which reject cast-to-long)
    us = epoch_micros(ev, "ts")
    gap = us - F.lag(us).over(w)
    flagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(gap <= 1_800_000_000, 0).otherwise(1).alias("new_session"))
    sessions = flagged.select(
        "user_id",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)).alias("session_id"))
    return (sessions.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"))
            .orderBy("user_id", "session_id"))


@query("edge_detection", oracle="""
WITH seq AS (
  SELECT user_id, ts, event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, event_id, floor(value * 100 + 0.5) / 100 AS value,
       floor(prev * 100 + 0.5) / 100 AS prev,
       CASE WHEN prev < 100 AND value >= 100 THEN 'rising' ELSE 'falling' END AS edge
FROM seq
WHERE (prev < 100 AND value >= 100) OR (prev >= 100 AND value < 100)
ORDER BY user_id, event_id
""")
def edge_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 batch form: per-key rising/falling edge on threshold crossing —
    lag() over (user, time). The streaming twin keeps last-value state in
    applyInPandasWithState (streaming/stateful.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_id", "value",
                    F.lag("value").over(w).alias("prev"))
    rising = (F.col("prev") < 100) & (F.col("value") >= 100)
    falling = (F.col("prev") >= 100) & (F.col("value") < 100)
    return (seq.filter(rising | falling)
            .select("user_id", "event_id",
                    round2(F.col("value")).alias("value"),
                    round2(F.col("prev")).alias("prev"),
                    F.when(rising, "rising").otherwise("falling").alias("edge"))
            .orderBy("user_id", "event_id"))

# -- register the north-star + streaming families into QUERIES/ORACLES ------
from . import queries_analytics  # noqa: E402,F401  (registration side effects)
from . import queries_curation  # noqa: E402,F401  (registration side effects)
from . import queries_flow  # noqa: E402,F401  (registration side effects)
from . import queries_northstar  # noqa: E402,F401  (registration side effects)
from . import queries_sources  # noqa: E402,F401  (registration side effects)
from . import queries_streaming  # noqa: E402,F401  (registration side effects)
from . import queries_tpch  # noqa: E402,F401  (registration side effects)
