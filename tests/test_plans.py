"""Physical-plan quality gates: the properties that make these operators
survive a 100 TB scale-up, asserted against .explain output so a refactor
can't silently regress them.
"""

from __future__ import annotations

import pytest

from servihabitat_etl_spyke_spark.queries import QUERIES


def plan_of(spark, name, sf_dir) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_link_join_broadcasts(spark, sf_dir):
    """J1: the FK-resolution join must broadcast the dimension side —
    no shuffle of the fact table."""
    plan = plan_of(spark, "link_join", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_filter_pushdown(spark, sf_dir):
    """P2: range predicates must reach the parquet scan (row-group
    skipping via min/max stats at scale)."""
    plan = plan_of(spark, "list_range_filter", sf_dir)
    assert "GreaterThanOrEqual(o_totalprice" in plan
    assert "LessThanOrEqual(o_totalprice" in plan


def test_projection_prunes_scan(spark, sf_dir):
    """P6: a 2-column projection must read 2 columns, not the table."""
    plan = plan_of(spark, "link_join", sf_dir)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, "no ReadSchema in plan"
    orders_scan = next(ln for ln in read_schemas if "o_orderkey" in ln)
    assert "o_orderdate" not in orders_scan and "o_comment" not in orders_scan


def test_star_join_all_broadcast(spark, sf_dir):
    """Q5-shape star join: every dimension hop must broadcast; the only
    shuffles are the final aggregation/sort exchanges."""
    plan = plan_of(spark, "q5_region_revenue", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_region_filter_pushed_through_star(spark, sf_dir):
    """The r_name='ASIA' literal must be pushed into the region scan, not
    evaluated post-join."""
    plan = plan_of(spark, "q5_region_revenue", sf_dir)
    assert "EqualTo(r_name,ASIA)" in plan


@pytest.mark.parametrize("name", [
    "q1_pricing_summary", "dedup_merge_first_wins", "state_machine_fold",
    "window_sliding", "neardup_jaccard", "dedup_minhash_lsh",
    "text_quality", "late_data_watermark", "queue_priority_drain",
])
def test_no_python_row_loop_in_hot_paths(spark, sf_dir, name):
    """Every batch operator must stay JVM-side: no row-at-a-time Python
    (BatchEvalPython) anywhere. (Arrow-batched pandas exchange is allowed
    only in the explicitly-Python multimodal/similarity operators.)"""
    plan = plan_of(spark, name, sf_dir)
    assert "BatchEvalPython" not in plan


def test_q1_partial_aggregation(spark, sf_dir):
    """The flagship aggregation must combine map-side (partial_sum before
    the exchange) — at scale this is the difference between shuffling 6
    grouped rows per partition and shuffling the whole fact table.
    (WholeStageCodegen subsumes this but is only visible post-execution
    under AQE; partial aggregation shows in the static plan.)"""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert "partial_sum" in plan
    assert plan.index("partial_sum") > plan.index("Exchange hashpartitioning")


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    """Q6 shape: the full conjunctive predicate set must appear as
    PushedFilters on the lineitem scan (row-group skipping at scale)."""
    plan = plan_of(spark, "q6_revenue_delta", sf_dir)
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_shipdate" in plan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_q6_scan_prunes_to_four_columns(spark, sf_dir):
    plan = plan_of(spark, "q6_revenue_delta", sf_dir)
    scan = next(ln for ln in plan.splitlines()
                if "ReadSchema" in ln and "l_discount" in ln)
    assert "l_returnflag" not in scan and "l_orderkey" not in scan


def test_rollup_single_expand_single_shuffle(spark, sf_dir):
    """A rollup must plan as ONE Expand + one aggregation exchange — not a
    union of per-level groupBys (which would scan the table N times)."""
    plan = plan_of(spark, "agg_rollup", sf_dir)
    tree = plan.split("\n\n")[0]  # formatted mode: tree, then node details
    assert tree.count("Expand") == 1
    assert tree.count("Scan parquet") == 1


def test_q4_semi_join_no_duplicate_amplification(spark, sf_dir):
    """The EXISTS must be a LeftSemi join (one output row per order however
    many matching lineitems exist)."""
    plan = plan_of(spark, "q4_priority_semi", sf_dir)
    assert "LeftSemi" in plan


def test_embedding_neardup_lsh_is_hash_join_not_nested_loop(spark, sf_dir):
    """The LSH candidate self-join must join on bucket-key equality (hash
    join family) — never a nested-loop over all pairs."""
    plan = plan_of(spark, "dedup_embedding_lsh", sf_dir)
    assert "NestedLoop" not in plan


def test_flow_map_filter_uses_arrow_not_row_python(spark, sf_dir):
    """The flow operators are the sanctioned Python path: they must use
    Arrow-batched mapInPandas (MapInPandas/ArrowEvalPython), never
    row-at-a-time BatchEvalPython."""
    plan = plan_of(spark, "flow_map_filter", sf_dir)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_q11_reuses_per_part_aggregate(spark, sf_dir):
    """Q11's per-part aggregate feeds both the scalar threshold and the
    output rows; it must come from cache (two InMemoryTableScans), not a
    doubled fact-table scan."""
    plan = plan_of(spark, "q11_important_parts", sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") == 2


def test_q16_broadcasts_both_dims_and_pushes_part_filters(spark, sf_dir):
    plan = plan_of(spark, "q16_supplier_part_counts", sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("SortMergeJoin") == 0
    assert tree.count("BroadcastHashJoin") == 2
    assert "In(p_size" in plan                      # IN-list reaches the scan
    assert "Not(EqualTo(p_brand,Brand#3))" in plan


def test_q20_part_prefix_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, "q20_concentrated_suppliers", sf_dir)
    assert "StringStartsWith(p_name,small)" in plan
    assert "SortMergeJoin" not in plan.split("\n\n")[0]


def test_q3_pushdown_and_topk(spark, sf_dir):
    """Q3: both date filters and the segment literal must reach their
    parquet scans, and the top-10 must be a TakeOrdered (bounded per
    partition), never a global sort of the grouped result."""
    plan = plan_of(spark, "q3_unshipped_topk", sf_dir)
    assert "GreaterThan(l_shipdate,1998-06-01" in plan
    assert "LessThan(o_orderdate,1998-06-01" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan.split("\n\n")[0]


def test_q5_cyclic_join_no_extra_exchange(spark, sf_dir):
    """Q5 (full cyclic form): the region literal pushes to its scan, the
    supplier/nation/region chain broadcasts, and the cyclic
    c_nationkey = s_nationkey equality must evaluate inside the
    broadcast join — no CartesianProduct, no sort-merge fallback at
    test SF."""
    plan = plan_of(spark, "q5_local_supplier_volume", sf_dir)
    tree = plan.split("\n\n")[0]
    assert "EqualTo(r_name,ASIA)" in plan
    assert "CartesianProduct" not in tree
    assert "SortMergeJoin" not in tree


def test_decontaminate_eval_grams_broadcast(spark, sf_dir):
    """The eval side must broadcast — a shuffle join here would shuffle the
    full training corpus's exploded grams."""
    plan = plan_of(spark, "curate_decontaminate", sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") == 1
    assert tree.count("SortMergeJoin") == 0


def test_rowlocal_curation_ops_scan_once_no_join(spark, sf_dir):
    """Redaction, sampling, and chunking are single-scan projections —
    any join or aggregation appearing here means a regression."""
    for name in ("curate_pii_redact", "curate_stratified_sample",
                 "curate_chunk_tokens"):
        plan = plan_of(spark, name, sf_dir)
        tree = plan.split("\n\n")[0]
        assert tree.count("Scan parquet") == 1, name
        assert "Join" not in tree, name
        assert "HashAggregate" not in tree, name


def test_profile_columns_single_scan_single_aggregate(spark, sf_dir):
    """profile_columns is the widest aggregation in the repo (one stat
    bundle per column) but must read its source ONCE — per-column scans
    would turn a single pass over a 100 TB table into n_columns passes.
    r12 shape (exact path): the profiled columns are projected and
    localCheckpoint'ed once, then the distinct counts and the plain
    stats aggregate those SAME cached blocks (Spark's mixed
    distinct/plain Expand plan measured 2.1x slower than the split).
    Pinned: no parquet scan in the aggregate tree (the one scan
    happened at the shared checkpoint), both aggregate branches read
    the IDENTICAL materialized RDD, and at most one Expand survives
    (the distinct branch's own)."""
    import re
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.profile import profile_agg
    df = load_table(spark, sf_dir, "orders")
    plan = profile_agg(df)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    tree = plan.split("\n\n")[0]
    # the source is read once, at profile_agg's internal checkpoint —
    # never again inside the aggregate plan
    assert tree.count("Scan parquet") == 0
    assert tree.count("Scan ExistingRDD") == 2
    rdd_ids = re.findall(r"MapPartitionsRDD\[(\d+)\]", plan)
    assert len(set(rdd_ids)) == 1, rdd_ids   # SAME cached blocks
    assert tree.count("Expand") <= 1
    # the glue join is 1 row x 1 row by construction
    assert tree.count("BroadcastNestedLoopJoin") <= 1

    # the approx path (the 100 TB form) keeps ONE mixed aggregate over
    # ONE FileScan — HLL needs no Expand and no materialization
    aplan = profile_agg(df, approx=True)._jdf.queryExecution() \
        .explainString(spark._jvm.org.apache.spark.sql.execution
                       .ExplainMode.fromString("formatted"))
    atree = aplan.split("\n\n")[0]
    assert atree.count("Scan parquet") == 1
    assert "Join" not in atree
    assert atree.count("Expand") == 0


def test_pack_greedy_single_window_shuffle(spark, sf_dir):
    plan = plan_of(spark, "curate_pack_greedy", sf_dir)
    tree = plan.split("\n\n")[0]
    assert tree.count("Window") == 1
    # exactly one exchange: hash for the window (the r8 sweep dropped
    # the presentational orderBy and its range exchange)
    assert tree.count("Exchange") == 1


# -- registry-wide scale-hazard audit ----------------------------------------

# Queries ALLOWED to show a given hazard, with the reason it is by-design.
# Anything else exhibiting one of these plan shapes fails the audit.
_ALLOWED_HAZARDS = {
    # BroadcastNestedLoopJoin with a 1-row build side: global scalar
    # (threshold / total) broadcast back over a grouped result
    "q11_important_parts": {"bnlj", "single_part"},
    "q22_dormant_customers": {"bnlj", "single_part"},
    "text_lm_score": {"bnlj", "single_part"},
    # corpus-total scalar (1 row) broadcast into the backoff model build
    "text_bigram_lm_score": {"bnlj", "single_part"},
    # token-total and pair-total scalars (1 row each) joined into PMI
    "text_collocations": {"bnlj", "single_part"},
    "ephemeral_split": {"bnlj", "single_part"},
    # exact brute-force similarity baselines (documented O(n^2); the LSH /
    # IVF variants are the scale path) + tiny centroid cross joins
    "ann_cosine_topk": {"bnlj"},
    # MMR's candidate pool comes from the exact cosine_topk baseline
    # (same documented O(n^2) scan; swap in the IVF/LSH retriever for
    # the pooled stage at scale — the rerank itself is pool-sized)
    "retrieval_mmr_topk": {"bnlj"},
    # candidate pool from the exact scorer over the PROJECTED table
    # (same documented baseline shape; the projected table is what an
    # LSH/IVF index replaces at scale)
    "ann_jl_rerank_topk": {"bnlj"},
    "ann_ivf_topk": {"bnlj"},
    "ann_ivf_kmeans_topk": {"bnlj"},
    "dedup_embedding": {"bnlj"},
    "multimodal_embed_ann": {"bnlj"},
    # k-row centroid-matrix broadcast (k-means assignment cross join)
    "dedup_semantic": {"bnlj"},
    "dedup_semantic_lsh": {"bnlj"},
    # corpus-count scalar (1 row) broadcast over the shingle counts
    "text_boilerplate_ngrams": {"bnlj", "single_part"},
    # corpus stats (N, total length) 1-row broadcast over the tf table
    "bm25_topk": {"bnlj", "single_part"},
    # total-mixture-weight scalar (1 row) broadcast onto the rate table
    "curate_temperature_mix": {"bnlj", "single_part"},
    # corpus-count scalar (1 row) broadcast into the idf table build
    "text_cluster_topics": {"bnlj", "single_part"},
    # table-total/key-count scalar (1 row) broadcast over the key counts
    "scale_skew_report": {"bnlj", "single_part"},
    # corpus-token-total scalar (1 row) broadcast over the exact recount
    # of the Misra-Gries candidate set
    "text_heavy_hitters": {"bnlj", "single_part"},
    # two snapshot-total scalars (1 row) broadcast over the 10-bin table
    "profile_drift_psi": {"bnlj", "single_part"},
    # gram-total scalars (1 row each side) broadcast onto the
    # buckets-row distribution tables; the corpus stream itself only
    # ever equi-joins the broadcast bucket-term table
    "curate_dsir_weights": {"bnlj", "single_part"},
    "curate_dsir_sample": {"bnlj", "single_part"},
    # two 1-row corpus sketches compared: the only "join" in the query
    # is 1 row x 1 row by construction
    "dedup_corpus_overlap": {"bnlj", "single_part"},
    # pairwise join of the GROUP-count-sized sketch table (one row per
    # source — tiny by contract)
    "dedup_overlap_matrix": {"bnlj"},
    # mean-group-token-mass scalar (1 row) broadcast onto the per-group
    # term counts
    "text_ctfidf_terms": {"bnlj", "single_part"},
    # GLOBAL (ungrouped) aggregations: map-side partials are fully
    # distributed; only the one-row final merge is single-partition —
    # that row IS the result (quantile vector / confusion counts)
    "profile_quantiles": {"single_part"},
    "text_classifier_pr_sweep": {"single_part"},
    # median + MAD: two 1-row robust-statistic aggregations broadcast
    # back over the corpus (the established 1-row-scalar join shape)
    "curate_mad_outliers": {"bnlj", "single_part"},
    # corpus-total scalar (1 row) broadcast onto the STAGE-count-sized
    # funnel table; the cumulative window runs over those k stage rows,
    # never over data
    "curate_funnel_report": {"bnlj", "single_part"},
    # 1-row estimate x 1-row exact-distinct comparison join; register
    # fold is 2^b rows by construction
    "profile_hll_distinct": {"bnlj", "single_part"},
    # 1-row estimate x 1-row exact-distinct comparison join; sketch is
    # <= k rows by construction (TakeOrdered over per-partition partials)
    "profile_kmv_distinct": {"bnlj", "single_part"},
    # brute-force cosine baseline (same as ann_cosine_topk) with the
    # metadata predicate semi-joined in front of the scoring stage
    "ann_filtered_topk": {"bnlj"},
    # fusion of two <=30-row top-k lists: brute-force dense baseline
    # (bnlj, same as ann_cosine_topk) + rank windows over tiny lists
    "retrieval_hybrid_rrf": {"bnlj", "single_part"},
    # single-row global aggregates (final agg of partials — tiny by then)
    "q6_revenue_delta": {"single_part"},
    "q14_promo_ratio": {"single_part"},
    "q15_top_supplier": {"single_part"},
    "q17_small_qty_avg": {"single_part"},
    "q19_disjunctive_bands": {"single_part"},
    "total_count": {"single_part"},
    "pages_envelope": {"single_part"},
    "fn_time_sortable_id": {"single_part"},
}


# Queries ALLOWED to range-partition (a global sort somewhere in the
# final plan). The r8/r9 presentational-sort sweeps measured a trailing
# orderBy costing 30-55% of total on row-local pipelines and ~2x on
# GEMM pipelines (the range-sampling pass RE-EXECUTES the child plan),
# so ORDER IS OPT-IN: a name belongs here only when the sort IS the
# semantics. Anything else that range-partitions fails the audit — the
# r8 sweep's lesson as a standing regression gate (VERDICT r8 #7).
_ALLOWED_RANGE_SORTS = {
    # TPC-H-shaped queries whose ORDER BY is part of the published
    # query spec (queries_tpch.py was excluded from the sweep for
    # exactly this reason)
    "q1_pricing_summary", "q5_local_supplier_volume", "q5_region_revenue",
    "q7_nation_volume", "q8_market_share", "q9_product_profit",
    "q11_important_parts", "q12_late_priority",
    "q13_customer_distribution", "q15_top_supplier",
    "q16_supplier_part_counts", "q20_concentrated_suppliers",
    "q21_sole_late_supplier", "q22_dormant_customers",
    # list-query envelope parity: the reference's AutoAPI list endpoint
    # returns ORDERED pages off its indexed iteration (db.ts) — sorted
    # output IS the reproduced behavior
    "group_count", "group_index_build", "multi_prefix_group",
    "read_multiple", "runtime_model_bootstrap", "runtime_model_sheet",
    "dedup_first_wins", "dedup_merge_first_wins",
    "etl_cascade_delete", "etl_dynamodb_roundtrip",
    "etl_empty_list_sanitize", "etl_enum_normalize", "etl_keyed_upsert",
    "fn_add_object_key", "fn_iso_timestamp", "fn_json_parse",
    "fn_password_hash", "fn_split_join", "fn_uuid_validate",
    # temporal/streaming-twin semantics: event-time order is the result
    "asof_join_events", "asof_forward_events", "range_join_events",
    "edge_detection", "sessionize", "window_tumbling_hourly",
    "window_topk_per_group",
    # tiny grouped-result presentation sorts (histogram / label / k-row
    # tables — the range exchange moves a handful of rows; its sample
    # pass re-executes only the final one-row-per-group aggregate)
    "graph_knn_degrees", "graph_knn_degrees_ivf",
    "ann_knn_classify", "ann_knn_classify_ivf",
    "text_heavy_hitters", "text_phrase_search",
}


def test_registry_wide_no_new_scale_hazards(spark, sf_dir):
    """Every registered query's physical plan is checked for the four
    100 TB hazards — CartesianProduct, Exchange SinglePartition,
    BroadcastNestedLoopJoin, and RangePartitioning (presentational
    global sorts) — against explicit allowlists of by-design
    exceptions. A new query (or a refactor of an old one) that
    introduces one of these fails here with its name."""
    violations = {}
    for name, fn in sorted(QUERIES.items()):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        tree = plan.split("\n\n")[0]
        found = set()
        if "CartesianProduct" in tree:
            found.add("cartesian")
        if "SinglePartition" in plan:
            found.add("single_part")
        if "BroadcastNestedLoopJoin" in tree:
            found.add("bnlj")
        if "rangepartitioning" in plan and \
                name not in _ALLOWED_RANGE_SORTS:
            found.add("range_sort")
        extra = found - _ALLOWED_HAZARDS.get(name, set())
        if extra:
            violations[name] = sorted(extra)
        spark.catalog.clearCache()
    assert not violations, violations


def test_exact_substring_shuffle_carries_no_text(spark, sf_dir):
    """dedup_exact_substring: the gram-count exchange must move md5
    digests + ints only — the doc text stays inside the scan stage
    (pruned to doc_id/text at the scan, gone before any Exchange)."""
    plan = plan_of(spark, "dedup_exact_substring", sf_dir)
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ln.strip().startswith("(") and ") Exchange" in ln:
            # the plan block after an Exchange header lists its output
            block = "\n".join(lines[i:i + 4])
            assert "text#" not in block, f"text crosses a shuffle:\n{block}"
    assert "md5(" in plan


def test_video_dedup_band_join_is_hash_join(spark, sf_dir):
    """multimodal_video_dedup: the cross-video candidate stage must be a
    band-key equi-join (hash join), never a nested-loop/cartesian
    compare of videos, and blob bytes must not cross the join."""
    plan = plan_of(spark, "multimodal_video_dedup", sf_dir)
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) \
        or ("ShuffledHashJoin" in plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # blob bytes stay in the decode stage: no Exchange or Join node may
    # list the content column among its inputs/arguments
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if ") Exchange" in ln or "Join" in ln and ln.strip().startswith("("):
            block = "\n".join(lines[i:i + 4])
            assert "content#" not in block, block


def test_repetition_signals_plan_is_shuffle_free(spark, sf_dir):
    """The nine Gopher/RedPajama char-fraction signals must compile to
    row-local folds: no Generate (explode), no aggregation
    HashAggregate, and only the spread repartition Exchange — the
    classic explode+groupBy formulation would shuffle the whole gram
    multiset."""
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.text import (
        ngram_repetition_signals)
    docs = load_table(spark, sf_dir, "documents")
    plan = (ngram_repetition_signals(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Generate" not in plan
    assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
    assert plan.count("Exchange") <= 1          # the spread repartition


def test_dedup_lines_single_fill_and_blocklist_no_bnlj(spark, sf_dir):
    """dedup_lines: all three consumers read the pinned exploded-lines
    table (InMemoryTableScan branches), not three separate corpus
    scans. domain_suffix_blocklist: suffix semantics stay equi-join
    (no BroadcastNestedLoopJoin, no cartesian)."""
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.curation import (
        domain_suffix_blocklist)
    from servihabitat_etl_spyke_spark.operators.text import dedup_lines
    docs = load_table(spark, sf_dir, "documents")
    try:
        out = dedup_lines(docs, min_docs=3)
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") >= 3
    finally:
        spark.catalog.clearCache()

    d = docs.select("doc_id",
                    F.concat(F.col("lang"), F.lit(".example.com"))
                    .alias("domain"))
    bl = d.sparkSession.createDataFrame([("example.com",)], "dom string")
    bplan = (domain_suffix_blocklist(d, bl)
             ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastNestedLoopJoin" not in bplan
    assert "CartesianProduct" not in bplan


def test_audio_neardup_word_index_materialized_once(spark, sf_dir):
    """audio_fp_neardup (r6): the decode + rfft fingerprint mapInPandas
    must run ONCE — the word index is checkpointed before the value
    self-join, so the returned plan reads two ExistingRDD branches and
    contains no MapInPandas at all (and the pair stage stays an
    equi-hash join, never a nested loop)."""
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        attach_audio, audio_fp_neardup)
    docs = load_table(spark, sf_dir, "documents").limit(40)
    pairs = audio_fp_neardup(attach_audio(docs), min_shared=3)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan
    assert plan.count("Scan ExistingRDD") >= 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cascade_delete_broadcasts_the_delete_batch(spark, sf_dir):
    """etl_cascade_delete (r6): every cascade anti-join must broadcast
    the delete-batch side (BroadcastHashJoin LeftAnti BuildRight) — the
    parent/child tables never shuffle for the deletion itself — and no
    join may degenerate to a nested loop or cartesian."""
    plan = plan_of(spark, "etl_cascade_delete", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    import re
    antis = re.findall(r"(\w+Join) LeftAnti", plan)
    assert antis and all(j == "BroadcastHashJoin" for j in antis), antis
    assert "LeftAnti BuildRight" in plan   # the delete batch is built


def test_pagerank_iteration_is_one_join_one_agg(spark):
    """r7 pagerank restructure gate: each un-checkpointed power-iteration
    round must cost exactly ONE equi-join (edge-keyed) and ONE
    aggregation (destination-keyed) — the iteration-invariant 1/degree
    weight is folded into the checkpointed edge table and no-in-edge
    vertices ride 0-weight self-loop markers, so neither the out_deg
    re-join nor the verts LEFT JOIN may creep back into the loop."""
    from servihabitat_etl_spyke_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "id_a long, id_b long")
    # 3 lazy rounds (checkpoint_every > iters -> no loop checkpoint):
    # the returned plan IS the full 3-round dataflow
    ranks = pagerank(edges, iters=3, checkpoint_every=10)
    # simple mode: formatted mode prints every node twice (tree +
    # details), which would double the counts below
    plan = ranks._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "ShuffledHashJoin",
                   "BroadcastHashJoin"))
    # HashAggregate pairs (partial+final) per groupBy -> count the
    # final-mode aggregates via the Exchange they hang under is fragile
    # across AQE; join count is the stable witness
    assert n_joins == 3, f"expected 1 join per round, plan has {n_joins}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # undirected graphs must not pay the dangling subplan at all
    assert plan.count("Join LeftAnti") == 0


def test_knn_graph_incremental_prunes_with_broadcast_semi(spark, sf_dir):
    """Incremental kNN-graph scan gate (r7 prunes + r8 #2a): in the
    LAZY fresh-candidate plan, BOTH streams entering the cogroup
    shuffles must be pruned by broadcast left-semi joins — the
    old-anchor probe stream on the affected-cell list AND the
    membership stream on the cells new queries probe (without the
    latter, every daily run hash-exchanges the entire old corpus even
    for a tiny batch). The old side reads the persisted ivf_index and
    the new batch's index is built (one probe-UDF pass) and
    materialized before the candidate plan, so that plan evaluates no
    pandas UDF (built inside it, the new batch's one probe UDF was
    repeated through subplan duplication, 11 times). Whole plan free of
    cartesian/nested-loop joins.
    """
    from pyspark.sql import functions as F

    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    idx = SIM.ivf_index(old, cents, n_probe=2).localCheckpoint()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("simple")
    new_idx = SIM.ivf_index(new, cents, n_probe=2)
    assert new_idx._jdf.queryExecution().explainString(mode).count(
        "ArrowEvalPython") == 1
    df = SIM._incremental_candidates(idx, new_idx.localCheckpoint(), 5,
                                     "vec_id", "embedding")
    plan = df._jdf.queryExecution().explainString(mode)
    semi_lines = [ln for ln in plan.splitlines()
                  if "BroadcastHashJoin" in ln and "LeftSemi" in ln]
    assert len(semi_lines) >= 2, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython") == 0, plan


def test_knn_graph_ivf_materializes_the_index_it_builds(spark, sf_dir):
    """knn_graph_ivf(corpus, …) materializes the index it builds before
    the probe stream and the membership stream both read it, so the
    graph plan evaluates no pandas UDF: the probe UDF has made its one
    pass over the corpus (built inside the plan, it ran once per
    reader, 3 ArrowEvalPython nodes)."""
    from pyspark.sql import functions as F

    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    graph = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents)
    plan = graph._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert "FlatMapCoGroupsInPandas" in plan, plan
    assert plan.count("ArrowEvalPython") == 0, plan


def test_ivf_index_build_is_a_pure_map(spark, sf_dir):
    """ann_ivf_index_build (r8): the index build must be a pure map
    over the corpus scan — ONE pandas-UDF eval serving both the
    assignment and the probe list, zero Exchange, zero join. (At
    100 TB the build is embarrassingly parallel; any shuffle here
    would be a bug.)"""
    plan = plan_of(spark, "ann_ivf_index_build", sf_dir)
    # formatted mode prints each node in tree + details sections
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan
    assert "ArrowEvalPython" in plan


def test_knn_graph_incremental_windows_only_touched_queries(spark, sf_dir):
    """r8 #2b merge gate (on the REGISTERED query, whose old side is
    the persisted-index shape): the per-batch re-rank window must see
    only queries touched by a fresh candidate — stored edges reach the
    single row_number window through a broadcast LEFT-SEMI join on the
    touched-query-id list, and the untouched majority bypasses it
    entirely through a broadcast LEFT-ANTI branch with NO window
    beneath or after it. Exactly one window in the whole plan."""
    from servihabitat_etl_spyke_spark.queries import QUERIES as Q
    df = Q["ann_knn_graph_incremental"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple"))
    assert plan.count("windowspecdefinition") == 1, plan
    semi_lines = [ln for ln in plan.splitlines()
                  if "BroadcastHashJoin" in ln and "LeftSemi" in ln]
    anti_lines = [ln for ln in plan.splitlines()
                  if "BroadcastHashJoin" in ln and "LeftAnti" in ln]
    assert len(semi_lines) >= 1, plan
    assert len(anti_lines) == 1, plan
    # the untouched branch is printed after the anti-join marker and
    # must stay window-free (it is a pure column passthrough)
    assert "windowspecdefinition" not in plan.split("LeftAnti")[-1]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
