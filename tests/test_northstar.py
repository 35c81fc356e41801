"""Tests for the approximate/Python-path north-star operators: recall of
ANN variants vs the exact baseline, pandas scorer equivalence, multimodal
frame plumbing."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from pyspark.sql import functions as F

from servihabitat_etl_spyke_spark.catalog import load_table
from servihabitat_etl_spyke_spark.operators import multimodal as MM
from servihabitat_etl_spyke_spark.operators import similarity as SIM
from servihabitat_etl_spyke_spark.operators import text as TX
from servihabitat_etl_spyke_spark.operators.dedup import (
    exact_dedup, lsh_candidate_pairs, minhash_signatures, word_shingles)


def _topk_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_lsh_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(SIM.cosine_topk(emb, queries, k=10))
    approx = _topk_sets(SIM.ann_lsh_topk(emb, queries, k=10, n_planes=4))
    # LSH buckets shrink the candidate set ~16x; planted neighbors are weak
    # (max cos ~0.37) so demand modest but non-trivial recall
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_embedding_neardup_lsh_recall(spark, sf_dir):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        embedding_neardup, embedding_neardup_lsh)
    emb = load_table(spark, sf_dir, "embeddings")
    exact = set(map(tuple, embedding_neardup(emb, threshold=0.45).collect()))
    approx = set(map(tuple,
                     embedding_neardup_lsh(emb, threshold=0.45,
                                           bands=8, rows=2).collect()))
    # exact-cosine verification => no false positives, ever
    assert approx <= exact
    assert len(exact & approx) / max(len(exact), 1) >= 0.8


def test_ivf_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(SIM.cosine_topk(emb, queries, k=10))
    n_labels = emb.select("label").distinct().count()
    approx = _topk_sets(SIM.ann_ivf_topk(emb, queries, k=10, n_probe=max(2, n_labels // 2)))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_knn_graph_matches_window_exact(spark, sf_dir):
    """The blocked-GEMM kNN graph must equal the expression-based exact
    scorer run with queries == corpus (same ranks, same tiebreaks)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    graph = SIM.knn_graph(emb, k=5)
    ref = SIM.cosine_topk(emb, emb, k=5)
    assert sorted(map(tuple, graph.collect())) == sorted(
        map(tuple, ref.collect()))


def test_knn_graph_ivf_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _topk_sets(SIM.knn_graph(emb, k=5))
    approx = _topk_sets(SIM.knn_graph_ivf(emb, k=5, kc=4, n_probe=2,
                                          iters=3))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
               for q in exact]
    # probing half the cells on near-random vectors: demand a solid
    # majority of true neighbors found on average
    assert sum(recalls) / len(recalls) >= 0.5, sum(recalls) / len(recalls)


def test_knn_graph_ivf_from_index_byte_equal(spark, sf_dir):
    """r9 (VERDICT r8 #4): knn_graph_ivf fed a persisted ivf_index
    table (``index=``) must be BYTE-IDENTICAL to the ``corpus=`` call
    with the same codebook, which builds the same index itself. This is
    the equality that lets every IVF consumer (classify / degrees /
    pagerank / hard-negatives) read one stored index instead of
    building its own."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    direct = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents,
                               with_score=True)
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    via_index = SIM.knn_graph_ivf(None, k=5, n_probe=2, index=idx,
                                  with_score=True)
    got = sorted(map(tuple, via_index.collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want and want


def test_knn_graph_ivf_index_contract_errors(spark, sf_dir):
    """The index-fed path enforces its contract loudly: missing index
    columns and an n_probe width mismatch both raise (a silent width
    drift changes which cells' members are candidates), and corpus=None
    without an index is an explicit error."""
    import pytest as _pytest
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100)
    cents = SIM.kmeans_fit(emb, k=4, iters=2)
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    with _pytest.raises(ValueError, match="missing column"):
        SIM.knn_graph_ivf(None, k=5, n_probe=2,
                          index=idx.drop("probes"))
    with _pytest.raises(ValueError, match="n_probe"):
        SIM.knn_graph_ivf(None, k=5, n_probe=3, index=idx)
    with _pytest.raises(ValueError, match="pass corpus"):
        SIM.knn_graph_ivf(None, k=5)
    # r10 ADVICE: an index corrupted with MIXED n_probe rows (a writer
    # that bypassed the sink's append-time guard) must raise, not pass
    # because the single arbitrary row the old check sampled happened
    # to match the request — mixed widths silently change which cells'
    # members are candidates per row
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    mixed = SIM.ivf_index(half_a, cents, n_probe=2).unionByName(
        SIM.ivf_index(half_b, cents, n_probe=3))
    with _pytest.raises(ValueError, match="MIXED"):
        SIM.knn_graph_ivf(None, k=5, n_probe=2, index=mixed)
    # NULL n_probe rows are corruption too, and min/max alone would
    # silently ignore them — the guard counts them explicitly (r10
    # review: a {NULL, 2} index must not masquerade as uniform)
    nulled = idx.withColumn(
        "n_probe",
        F.when(F.col("vec_id") % 2 == 0, F.col("n_probe")))
    with _pytest.raises(ValueError, match="NULL n_probe"):
        SIM.knn_graph_ivf(None, k=5, n_probe=2, index=nulled)


def test_knn_graph_ivf_incremental_equals_full_rebuild(spark, sf_dir):
    """The r7 incremental-maintenance contract: with a FIXED codebook,
    updating the stored graph with a new batch must land byte-identical
    (query_id, neighbor_id, rank) to a full rebuild over the union —
    top-k selection commutes with union under the deterministic
    (score desc, id asc) total order, and a vector's probe set never
    changes once the codebook is pinned. Stored graph and index are
    lazy plans here (no checkpoint), so the index's UDF sits inside
    the operator's plan."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)

    old_graph = SIM.knn_graph_ivf(old, k=5, n_probe=2, centroids=cents,
                                  with_score=True)
    idx = SIM.ivf_index(old, cents, n_probe=2)
    inc = SIM.knn_graph_ivf_incremental(idx, old_graph, new, cents,
                                        k=5, n_probe=2)
    full = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents)
    got = sorted(map(tuple, inc.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want and want


def test_knn_graph_ivf_incremental_with_index_equals_full_rebuild(
        spark, sf_dir):
    """r8 (VERDICT r7 #2a): with the persisted ivf_index table (here
    materialized, as a stored table is) the operator must produce the
    SAME byte-identical rebuild output, and its with_score output the
    same ranking."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    old_graph = SIM.knn_graph_ivf(old, k=5, n_probe=2, centroids=cents,
                                  with_score=True).localCheckpoint()
    idx = SIM.ivf_index(old, cents, n_probe=2).localCheckpoint()
    inc = SIM.knn_graph_ivf_incremental(idx, old_graph, new, cents,
                                        k=5, n_probe=2)
    full = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents)
    got = sorted(map(tuple, inc.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want and want
    # with_score passthrough: untouched stored rows carry their stored
    # scores, touched rows the re-ranked ones — same ranking either way
    scored = SIM.knn_graph_ivf_incremental(
        idx, old_graph, new, cents, k=5, n_probe=2, with_score=True)
    assert sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in scored.collect()) == want


def test_knn_graph_ivf_incremental_two_day_cycle(spark, sf_dir):
    """The REAL maintenance loop, end to end: day-1's incremental
    output (graph, with scores) and the appended index become day-2's
    stored state, and after two daily batches the graph still equals a
    full rebuild over everything — the contract that lets the trilogy
    run forever without a rebuild. Catches any drift in what the
    operator EMITS vs what it CONSUMES (rank+score round-trip, index
    append semantics)."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    base = emb.filter(F.col("vec_id") % 4 <= 1)
    day1 = emb.filter(F.col("vec_id") % 4 == 2)
    day2 = emb.filter(F.col("vec_id") % 4 == 3)
    cents = SIM.kmeans_fit(base, k=4, iters=3)
    g0 = SIM.knn_graph_ivf(base, k=5, n_probe=2, centroids=cents,
                           with_score=True).localCheckpoint()
    idx0 = SIM.ivf_index(base, cents, n_probe=2).localCheckpoint()
    g1 = SIM.knn_graph_ivf_incremental(
        idx0, g0, day1, cents, k=5, n_probe=2,
        with_score=True).localCheckpoint()
    idx1 = (idx0.unionByName(SIM.ivf_index(day1, cents, n_probe=2))
            .localCheckpoint())
    g2 = SIM.knn_graph_ivf_incremental(
        idx1, g1, day2, cents, k=5, n_probe=2)
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert sorted(map(tuple, g2.collect())) == want and want


def test_ivf_index_partitioned_parquet_round_trip(spark, sf_dir,
                                                  tmp_path):
    """The PERSISTED story, through real parquet: the index written
    partitioned by centroid_id (the documented layout) and the stored
    graph written plain must, read back, drive the incremental update
    to byte-equality with the rebuild — this witnesses partition-column
    type coercion, column reordering, and array round-tripping, none of
    which localCheckpoint exercises. Also pins the layout's benefit: a
    static cell predicate prunes partitions AT THE SCAN."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    SIM.ivf_index(old, cents, n_probe=2).write.partitionBy(
        "centroid_id").parquet(str(tmp_path / "idx"))
    SIM.knn_graph_ivf(old, k=5, n_probe=2, centroids=cents,
                      with_score=True).write.parquet(
        str(tmp_path / "graph"))
    idx = spark.read.parquet(str(tmp_path / "idx"))
    graph = spark.read.parquet(str(tmp_path / "graph"))
    inc = SIM.knn_graph_ivf_incremental(idx, graph, new, cents,
                                        k=5, n_probe=2)
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    assert sorted(map(tuple, inc.collect())) == want and want
    # static cell predicate reaches the scan as a partition filter
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = (idx.filter(F.col("centroid_id") == 1)
            ._jdf.queryExecution().explainString(mode))
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("centroid_id" in ln and "= 1" in ln for ln in pf), pf


def test_ivf_index_matches_assign_and_probe(spark, sf_dir):
    """The persisted index table must match the assignment and the
    probe ranking it stands for: centroid_id == nearest-centroid
    assignment (the stable-argsort head IS argmin), and each probe
    list == the n_probe nearest centroids of a numpy reference that
    ranks by the UDF's ||c||^2 - 2x.c, nearest first, ties to the
    lower centroid id."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    rows = idx.collect()
    assigned = {r["vec_id"]: r["centroid_id"] for r in
                SIM.assign_to_centroids(emb, cents).collect()}
    assert {r["vec_id"]: r["centroid_id"] for r in rows} == assigned
    C = np.asarray(cents)
    want = {}
    for r in emb.select("vec_id", "embedding").collect():
        d2 = (C * C).sum(axis=1) - 2.0 * (C @ np.asarray(r["embedding"]))
        # lexsort's last key is primary: distance, then centroid id
        want[r["vec_id"]] = np.lexsort(
            (np.arange(len(C)), d2))[:2].tolist()
    assert {r["vec_id"]: r["probes"] for r in rows} == want
    # n_probe column pins the build parameter (consumer validation)
    assert idx.select("n_probe").distinct().collect()[0][0] == 2


def test_knn_graph_ivf_incremental_larger_stored_k_is_exact(
        spark, sf_dir):
    """r8 review finding: a stored graph built with a LARGER k than
    requested used to leak ranks k+1..k_stored through the untouched
    passthrough while touched queries re-windowed to k (reproduced:
    max_rank 8 vs the rebuild's 5). Both branches now truncate — a
    k_stored=8 graph must merge byte-identically to a k=5 rebuild."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    big = SIM.knn_graph_ivf(old, k=8, n_probe=2, centroids=cents,
                            with_score=True).localCheckpoint()
    idx = SIM.ivf_index(old, cents, n_probe=2).localCheckpoint()
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    inc = SIM.knn_graph_ivf_incremental(idx, big, new, cents,
                                        k=5, n_probe=2)
    assert sorted(map(tuple, inc.collect())) == want and want


def test_knn_graph_ivf_incremental_requires_rank_column(spark, sf_dir):
    """r8 review finding: the untouched passthrough reuses stored
    ranks, so a rank-less (query_id, neighbor_id, score) edge table
    must raise the named contract error — not an AnalysisException
    from deep inside the merge plan."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    graph = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents,
                              with_score=True)
    rankless = graph.select("query_id", "neighbor_id", "score")
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    with pytest.raises(ValueError, match="no 'rank' column"):
        SIM.knn_graph_ivf_incremental(idx, rankless, emb, cents,
                                      validate=False)


def test_knn_graph_ivf_incremental_index_contract_errors(spark, sf_dir):
    """The index path validates its inputs loudly: an n_probe mismatch
    (which silently changes the candidate cells) and a structurally
    wrong index table."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    graph = SIM.knn_graph_ivf(old, k=5, n_probe=2, centroids=cents,
                              with_score=True)
    idx3 = SIM.ivf_index(old, cents, n_probe=3)
    with pytest.raises(ValueError, match="built\\s+with n_probe=3 but"):
        SIM.knn_graph_ivf_incremental(idx3, graph, new, cents, k=5,
                                      n_probe=2)
    with pytest.raises(ValueError, match="missing\\s+column"):
        SIM.knn_graph_ivf_incremental(old, graph, new, cents, k=5,
                                      n_probe=2)
    # r8 review: n_probe is REQUIRED on the index — a hand-selected
    # index without it would silently skip the mismatch guard and a
    # probe-width drift changes the candidate cells with no error
    stripped = idx3.drop("n_probe")
    with pytest.raises(ValueError, match=r"missing\s+column.*n_probe"):
        SIM.knn_graph_ivf_incremental(stripped, graph, new, cents, k=5,
                                      n_probe=3)


def _near_tie_corpus(spark, eps: float):
    """60 vectors in 20 bundles of 3 near-parallel twins, with
    DIRECTIONAL perturbations of magnitude eps — cosine gaps between a
    query and its twin candidates are then first-order in eps (a pure
    scaling perturbation changes cosine only at eps^2, which is
    sub-ulp even at eps=1e-9 and witnesses nothing)."""
    import numpy as np
    rng = np.random.default_rng(7)
    base = rng.normal(size=(20, 8))
    noise = rng.normal(size=(60, 8))
    vecs = {}
    for i in range(60):
        v = base[i % 20] + (i // 20) * eps * noise[i]
        vecs[i] = v
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>")
    return emb, vecs


def _inc_vs_rebuild(spark, emb):
    emb = emb
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    cents = SIM.kmeans_fit(old, k=3, iters=3)
    graph = SIM.knn_graph_ivf(old, k=5, n_probe=2, centroids=cents,
                              with_score=True).localCheckpoint()
    idx = SIM.ivf_index(old, cents, n_probe=2).localCheckpoint()
    want = sorted(map(tuple, SIM.knn_graph_ivf(
        emb, k=5, n_probe=2, centroids=cents).collect()))
    inc = sorted(map(tuple, SIM.knn_graph_ivf_incremental(
        idx, graph, new, cents, k=5, n_probe=2).collect()))
    return want, inc


def test_knn_graph_ivf_incremental_near_tie_rank_equality(spark):
    """r7 verdict optional #7: the BLAS shape-invariance caveat,
    witnessed on THIS build. At realistic near-tie gaps (1e-9 relative
    perturbations — adjacent cosines differ by far more than a few
    ulps) the incremental merge must be BYTE-identical to the full
    rebuild."""
    emb, _ = _near_tie_corpus(spark, 1e-9)
    want, inc = _inc_vs_rebuild(spark, emb)
    assert inc == want and want


def test_knn_graph_ivf_incremental_subulp_ties_swap_only(spark):
    """The adversarial half of the shape-invariance witness: at
    SUB-ULP score gaps (1e-15 perturbations — this build's measured
    breaking point, where the same mathematical dot product computed
    in differently-shaped GEMMs rounds differently) the two paths may
    swap adjacent ranks, but ONLY between genuine ties: per query, the
    true-cosine multiset of the returned neighbors must agree within
    1e-12, so no semantically wrong neighbor ever appears."""
    import numpy as np
    emb, vecs = _near_tie_corpus(spark, 1e-15)
    want, inc = _inc_vs_rebuild(spark, emb)

    def cos(q, n):
        a, b = vecs[q], vecs[n]
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def by_query(rows):
        m = {}
        for q, n, r in rows:
            m.setdefault(q, []).append(n)
        return m

    want_m, got_m = by_query(want), by_query(inc)
    assert set(got_m) == set(want_m)
    for q in want_m:
        if got_m[q] == want_m[q]:
            continue
        gs = sorted(cos(q, n) for n in got_m[q])
        ws = sorted(cos(q, n) for n in want_m[q])
        assert np.allclose(gs, ws, rtol=0, atol=1e-12), (q, gs, ws)


def test_knn_graph_ivf_incremental_empty_batch_is_identity(spark, sf_dir):
    """A quiet day (no new embeddings) must return exactly the stored
    graph — the affected-cell prune leaves nothing to rescore."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    old_graph = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents,
                                  with_score=True)
    empty = emb.filter(F.lit(False))
    # the whole stored graph flows through the untouched anti-join branch
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    inc = SIM.knn_graph_ivf_incremental(idx, old_graph, empty, cents,
                                        k=5, n_probe=2)
    got = sorted(map(tuple, inc.collect()))
    want = sorted((r["query_id"], r["neighbor_id"], r["rank"])
                  for r in old_graph.collect())
    assert got == want and want


def test_knn_graph_ivf_incremental_requires_scores(spark, sf_dir):
    """A stored graph without scores cannot be merged — loud contract
    error, not a silent wrong-rank union."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 100)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    rank_only = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents)
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    with pytest.raises(ValueError, match="with_score=True"):
        SIM.knn_graph_ivf_incremental(idx, rank_only, emb, cents)


def test_knn_graph_ivf_incremental_rejects_stored_k_too_small(
        spark, sf_dir):
    """r7 review: a stored graph built with a smaller k than requested
    would fill ranks k_stored+1..k with wrong neighbors at the SAME row
    count — the rank probe must catch it loudly."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300)
    old = emb.filter(F.col("vec_id") % 5 != 0)
    new = emb.filter(F.col("vec_id") % 5 == 0)
    cents = SIM.kmeans_fit(old, k=4, iters=3)
    small = SIM.knn_graph_ivf(old, k=3, n_probe=2, centroids=cents,
                              with_score=True)
    idx = SIM.ivf_index(old, cents, n_probe=2)
    with pytest.raises(ValueError, match="max rank is 3 but k=5"):
        SIM.knn_graph_ivf_incremental(idx, small, new, cents,
                                      k=5, n_probe=2)


def test_knn_graph_ivf_incremental_rejects_id_overlap(spark, sf_dir):
    """r7 review: an id in both old and new would occupy two rank slots
    per query (duplicate tied copies survive _topk_idx) — the
    disjointness probe must raise, naming the offending id."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    graph = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents,
                              with_score=True)
    overlapping = emb.filter(F.col("vec_id") < 10)   # already stored
    idx = SIM.ivf_index(emb, cents, n_probe=2)
    with pytest.raises(ValueError, match="BOTH old_index and new_batch"):
        SIM.knn_graph_ivf_incremental(idx, graph, overlapping, cents,
                                      k=5, n_probe=2)


def test_knn_graph_ivf_pinned_codebook_matches_trained(spark, sf_dir):
    """Refactor guard: passing the same centroids kmeans_fit would have
    trained must reproduce the trained-path graph exactly."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300)
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    trained = SIM.knn_graph_ivf(emb, k=5, kc=4, n_probe=2, iters=3)
    pinned = SIM.knn_graph_ivf(emb, k=5, n_probe=2, centroids=cents)
    assert sorted(map(tuple, trained.collect())) == sorted(
        map(tuple, pinned.collect()))


def test_minhash_lsh_finds_planted_dup(spark):
    # two near-identical docs + unrelated ones: the planted pair MUST bucket
    # together (identical docs share every band)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base + "lambda"), (3, "totally different words here now"),
         (4, "another unrelated document text body")],
        ["doc_id", "text"])
    sig = minhash_signatures(docs)
    cand = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in cand
    assert (3, 4) not in cand


def test_exact_dedup_counts_copies(spark):
    docs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["doc_id", "text"])
    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1}


def test_word_shingles_short_text(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], ["text"])
    out = [r["s"] for r in df.select(word_shingles(F.col("text")).alias("s")).collect()]
    assert out[0] == ["a b"]                      # shorter than n -> one shingle
    assert out[1] == ["a b c", "b c d"]


def test_multimodal_frames_shape(spark, sf_dir):
    # byte-sampling runs over opaque blobs -> utf8 codec keeps raw text bytes
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(5)
    blobs = MM.attach_binary(docs, codec="utf8")
    frames = MM.sample_frames(blobs, every_n_bytes=64, max_frames=8).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, rows in by_doc.items():
        raw = texts[did].encode()
        assert len(rows) == min(8, len(raw) // 64)
        for fr in rows:
            assert fr["sample_value"] == raw[fr["byte_offset"]]
            assert fr["byte_offset"] == fr["frame_idx"] * 64


def test_multimodal_meta_real_bmp_decode(spark, sf_dir):
    """extract_media_meta parses the REAL encoded BMP header: digest is the
    md5 of the encoded bytes and width/height match a local re-render."""
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(3)
    out = MM.extract_media_meta(MM.attach_binary(docs)).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for r in out:
        bmp = MM.render_doc_bmp(r["doc_id"], texts[r["doc_id"]])
        assert r["media_type"] == "image/bmp"
        assert r["digest"] == hashlib.md5(bmp).hexdigest()
        assert r["n_bytes"] == len(bmp)
        assert (r["width"], r["height"]) == MM.decode_bmp_meta(bmp)


def test_bmp_ppm_codec_roundtrip():
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(13, 21, 3), dtype=np.uint8)
    for enc, dec in ((MM.encode_bmp, MM.decode_bmp),
                     (MM.encode_ppm, MM.decode_ppm)):
        data = enc(px)
        assert np.array_equal(dec(data), px)
        assert MM.decode_image(data).shape == (13, 21, 3)
    assert MM.decode_bmp_meta(MM.encode_bmp(px)) == (21, 13)
    assert MM.decode_ppm_meta(MM.encode_ppm(px)) == (21, 13)


def test_resize_pixels_identity_and_downsample():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(16, 24, 3), dtype=np.uint8)
    assert np.array_equal(MM.resize_pixels(px, 24, 16), px)  # identity exact
    half = MM.resize_pixels(px, 12, 8)
    assert half.shape == (8, 12, 3)
    # pixel-center convention: out[0,0] samples src[floor(0.5*2)=1][1]
    assert np.array_equal(half[0, 0], px[1, 1])


def test_approx_distinct_relative_error(spark, sf_dir):
    from servihabitat_etl_spyke_spark.queries import QUERIES
    approx = {r["l_returnflag"]: r["approx_parts"]
              for r in QUERIES["agg_approx_distinct"](spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {r["l_returnflag"]: r["n"]
             for r in li.groupBy("l_returnflag")
             .agg(F.countDistinct("l_partkey").alias("n")).collect()}
    for k, n in exact.items():
        assert abs(approx[k] - n) / n <= 0.05, (k, approx[k], n)


def test_kmeans_ivf_recall_beats_floor(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(SIM.cosine_topk(emb, queries, k=10))
    cents = SIM.kmeans_fit(emb, k=4, iters=3)
    approx = _topk_sets(
        SIM.ann_ivf_topk_trained(emb, queries, cents, k=10, n_probe=2))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_kmeans_is_deterministic_and_converges(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    a = SIM.kmeans_fit(emb, k=3, iters=2)
    b = SIM.kmeans_fit(emb, k=3, iters=2)
    assert a == b

    # objective (sum of min sq-dist) must not increase with more iterations
    def obj(cents):
        assigned = SIM.assign_to_centroids(emb, cents)
        cdf = {i: c for i, c in enumerate(cents)}
        rows = assigned.select("embedding", "centroid_id").collect()
        return sum(
            sum((float(v) - c) ** 2 for v, c in zip(r["embedding"], cdf[r["centroid_id"]]))
            for r in rows)
    early = obj(SIM.kmeans_fit(emb, k=3, iters=1))
    late = obj(SIM.kmeans_fit(emb, k=3, iters=4))
    assert late <= early + 1e-6, (early, late)


def test_multimodal_resize_and_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(4)
    blobs = MM.attach_binary(docs)
    r1 = {r["doc_id"]: (bytes(r["content"]), r["width"], r["height"])
          for r in MM.resize_images(blobs, 64, 32).collect()}
    r2 = {r["doc_id"]: (bytes(r["content"]), r["width"], r["height"])
          for r in MM.resize_images(blobs, 64, 32).collect()}
    assert r1 == r2 and all(w == 64 and h == 32 for _, w, h in r1.values())
    # the resized payload is itself a valid BMP of the target geometry
    for content, _, _ in r1.values():
        assert MM.decode_bmp(content).shape == (32, 64, 3)

    f1 = {r["doc_id"]: r["embedding"] for r in
          MM.extract_features(blobs, dim=16).collect()}
    assert all(len(v) == 16 and all(-1.0 <= x < 1.0 for x in v)
               for v in f1.values())


def test_multimodal_features_feed_similarity(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(10)
    feats = (MM.extract_features(MM.attach_binary(docs), dim=16)
             .withColumnRenamed("doc_id", "vec_id"))
    queries = feats.orderBy("vec_id").limit(2)
    out = SIM.cosine_topk(feats, queries, k=3)
    assert out.count() > 0
    assert set(out.columns) == {"query_id", "neighbor_id", "rank"}


def test_quantize_roundtrip_preserves_topk_neighbors(spark, sf_dir):
    """int8 round-trip must preserve brute-force cosine top-5 neighbors
    for most queries (the recall argument for shipping quantized shards)."""
    from servihabitat_etl_spyke_spark.operators.similarity import (
        dequantize, quantize_embeddings)
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    deq = q.select("vec_id", dequantize(F.col("qvec"),
                                        F.col("scale")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(SIM.cosine_topk(emb, queries, k=5))
    approx = _topk_sets(SIM.cosine_topk(
        deq, emb.filter(F.col("vec_id") < 5), k=5))
    overlap = sum(len(exact[i] & approx[i]) for i in exact) \
        / sum(len(exact[i]) for i in exact)
    assert overlap >= 0.8, overlap


def test_quantize_codes_within_int8_range(spark, sf_dir):
    from servihabitat_etl_spyke_spark.operators.similarity import (
        quantize_embeddings)
    emb = load_table(spark, sf_dir, "embeddings")
    r = (quantize_embeddings(emb)
         .select(F.array_max("qvec").alias("hi"),
                 F.array_min("qvec").alias("lo"))
         .agg(F.max("hi"), F.min("lo")).collect()[0])
    assert r[0] <= 127 and r[1] >= -127


def test_wav_codec_roundtrip_and_stdlib_compat():
    rng = np.random.default_rng(11)
    samples = rng.integers(-32768, 32768, size=(200, 2), dtype=np.int16)
    data = MM.encode_wav(samples, 16000)
    meta = MM.decode_wav_meta(data)
    assert meta == {"channels": 2, "sample_rate": 16000, "n_frames": 200,
                    "duration_us": 200 * 1_000_000 // 16000}
    decoded, sr = MM.decode_wav(data)
    assert sr == 16000 and np.array_equal(decoded, samples)
    # the bytes are a genuine WAV: Python's stdlib reader agrees
    import io
    import wave
    w = wave.open(io.BytesIO(data))
    assert (w.getnchannels(), w.getframerate(), w.getnframes(),
            w.getsampwidth()) == (2, 16000, 200, 2)
    assert w.readframes(200) == samples.astype("<i2").tobytes()
    # chunk walker skips non-canonical extra chunks before fmt/data
    extra = data[:12] + b"LIST\x04\x00\x00\x00abcd" + data[12:]
    assert MM.decode_wav_meta(extra) == meta
    d2, _ = MM.decode_wav(extra)
    assert np.array_equal(d2, samples)


def test_audio_features_match_decoded_samples(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(4)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = {r["doc_id"]: r
           for r in MM.audio_features(MM.attach_audio(docs)).collect()}
    for did, text in texts.items():
        s, _sr = MM.decode_wav(MM.render_doc_wav(did, text))
        flat = s.reshape(-1).astype(np.int64)
        r = out[did]
        assert r["n_samples"] == len(flat)
        assert r["peak"] == int(np.abs(flat).max())
        assert r["sum_sq"] == int((flat * flat).sum())
        nz = flat[flat != 0]
        assert r["zero_crossings"] == int(
            (np.sign(nz[1:]) != np.sign(nz[:-1])).sum())


def test_audio_windows_flatmap_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(6)
    blobs = MM.attach_audio(docs)
    rows = MM.sample_audio_windows(blobs, win=64, hop=32).collect()
    metas = {r["doc_id"]: r for r in MM.extract_audio_meta(blobs).collect()}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, m in metas.items():
        expect = ((m["n_frames"] - 64) // 32 + 1) if m["n_frames"] >= 64 else 0
        got = by_doc.get(did, [])
        assert len(got) == expect
        for w in got:
            assert w["start_frame"] == w["window_idx"] * 32


def test_image_feature_vector_real_statistics():
    """Features come from the DECODED pixels: a solid mid-gray image has
    exact known moments, zero variance, zero gradient energy, and a
    single-bin luminance histogram."""
    px = np.full((8, 8, 3), 128, dtype=np.uint8)
    v = MM.image_feature_vector(px, dim=16)
    for c in range(3):
        assert abs(v[c] - (128 / 127.5 - 1.0)) < 1e-12   # channel means
        assert abs(v[3 + c] - (-1.0)) < 1e-12            # zero stds
    assert v[6] == -1.0 and v[7] == -1.0                 # no gradients
    hist = v[8:16]
    assert abs(hist[4] - 1.0) < 1e-12                    # 128 -> bin 4
    assert all(abs(h + 1.0) < 1e-12 for h in hist[:4] + hist[5:])
    # a half black / half white image has maximal contrast features
    px2 = np.zeros((8, 8, 3), dtype=np.uint8)
    px2[:, 4:] = 255
    v2 = MM.image_feature_vector(px2, dim=16)
    assert v2[3] > v[3] and v2[6] > v[6]                 # std + dx energy up
    # encoded-roundtrip equals direct computation
    assert MM.image_feature_vector(
        MM.decode_bmp(MM.encode_bmp(px2)), 16) == v2


def test_bmv_container_roundtrip_and_random_access():
    rng = np.random.default_rng(21)
    frames_px = [rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
                 for _ in range(4)]
    data = MM.encode_bmv([MM.encode_bmp(p) for p in frames_px], fps=7)
    meta = MM.decode_bmv_meta(data)
    assert meta == {"n_frames": 4, "fps": 7, "width": 13, "height": 9}
    for i, px in enumerate(frames_px):
        assert np.array_equal(MM.decode_bmv_frame(data, i), px)
    import pytest
    with pytest.raises(IndexError):
        MM.decode_bmv_frame(data, 4)
    with pytest.raises(ValueError):
        MM.decode_bmv_meta(b"nope" + data)


def test_video_frame_sampling_matches_local_decode(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(4)
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = MM.sample_video_frames(MM.attach_video(docs), every_n=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, text in texts.items():
        blob = MM.render_doc_bmv(did, text)
        meta = MM.decode_bmv_meta(blob)
        rows = sorted(by_doc[did], key=lambda r: r["frame_idx"])
        assert len(rows) == meta["n_frames"]
        for r in rows:
            px = MM.decode_bmv_frame(blob, r["frame_idx"])
            assert (r["width"], r["height"]) == (px.shape[1], px.shape[0])
            assert r["mean_lum_milli"] == \
                int(px.astype(np.int64).sum()) * 1000 // px.size


def test_audio_fingerprint_volume_invariant_and_discriminative(spark):
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        audio_fingerprint, encode_wav)
    rng_a = ((np.arange(4000) * 40503 + 17) % 65536 - 32768).astype(np.int16)
    # same signal at half volume: band-energy DELTAS keep their signs
    half = (rng_a.astype(np.int32) // 2).astype(np.int16)
    other = ((np.arange(4000) * 25173 + 9) % 65536 - 32768).astype(np.int16)
    blobs = spark.createDataFrame(
        [(1, bytearray(encode_wav(rng_a.reshape(-1, 1), 8000))),
         (2, bytearray(encode_wav(half.reshape(-1, 1), 8000))),
         (3, bytearray(encode_wav(other.reshape(-1, 1), 8000))),
         (4, bytearray(encode_wav(rng_a[:16].reshape(-1, 1), 8000)))],
        "doc_id long, content binary")
    got = {r["doc_id"]: r for r in audio_fingerprint(blobs).collect()}
    # volume scaling preserves the full fingerprint bit-for-bit
    assert got[1]["fp_digest"] == got[2]["fp_digest"]
    # a different signal fingerprints differently
    assert got[3]["fp_digest"] != got[1]["fp_digest"]
    # too short for one window: empty fingerprint, explicit nulls
    assert got[4]["n_fp_frames"] == 0 and got[4]["fp_digest"] is None
    # determinism across runs
    again = {r["doc_id"]: r["fp_digest"]
             for r in audio_fingerprint(blobs).collect()}
    assert again[1] == got[1]["fp_digest"]


def test_image_dhash_invariances(spark):
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        dhash_bits, encode_bmp, image_dhash)
    rng = np.random.default_rng(11)
    px = rng.integers(0, 120, size=(32, 48, 3), dtype=np.uint8)
    # global brightness scaling is monotone -> identical hash
    assert dhash_bits(px) == dhash_bits(px * 2)
    # exact nearest-neighbor 2x upscale -> identical hash (same pixel
    # centers resolve to the duplicated source pixels)
    up = px.repeat(2, axis=0).repeat(2, axis=1)
    assert dhash_bits(px) == dhash_bits(up)
    # a different image hashes differently
    other = rng.integers(0, 120, size=(32, 48, 3), dtype=np.uint8)
    assert dhash_bits(px) != dhash_bits(other)
    # distributed path agrees with the local function
    blobs = spark.createDataFrame(
        [(1, bytearray(encode_bmp(px))), (2, bytearray(encode_bmp(other)))],
        "doc_id long, content binary")
    got = {r["doc_id"]: r for r in image_dhash(blobs).collect()}
    # int64 view of the same 64 bits (wraps only if the top bit is set)
    assert got[1]["dhash"] == np.uint64(dhash_bits(px)).astype(np.int64)
    assert (got[1]["width"], got[1]["height"]) == (48, 32)


def test_scene_detection_flags_planted_cut(spark):
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        detect_scene_changes, encode_bmp, encode_bmv)
    dark = np.zeros((8, 8, 3), dtype=np.uint8)
    dark2 = np.full((8, 8, 3), 2, dtype=np.uint8)
    bright = np.full((8, 8, 3), 200, dtype=np.uint8)
    vid = encode_bmv([encode_bmp(p) for p in (dark, dark2, bright, bright)],
                     fps=5)
    blobs = spark.createDataFrame([(1, bytearray(vid))],
                                  "doc_id long, content binary")
    rows = {r["frame_idx"]: r for r in
            detect_scene_changes(blobs, threshold_milli=30000).collect()}
    assert len(rows) == 3                       # n_frames - 1 transitions
    assert not rows[1]["is_cut"]                # dark -> dark2: tiny delta
    assert rows[2]["is_cut"]                    # dark2 -> bright: the cut
    assert rows[2]["delta_milli"] == (200 - 2) * 1000
    assert not rows[3]["is_cut"]                # bright -> bright: zero


def test_pca_matches_local_and_preserves_neighbors(spark, sf_dir):
    import numpy as np
    emb = load_table(spark, sf_dir, "embeddings")
    model = SIM.pca_fit(emb, k=8)
    X = np.array([r["embedding"] for r in
                  emb.select("embedding").orderBy("vec_id").collect()],
                 dtype=np.float64)
    # distributed moments == local moments (associative integer-free sums
    # agree to float tolerance)
    assert np.allclose(model["mean"], X.mean(axis=0), atol=1e-9)
    cov = np.cov(X, rowvar=False, bias=True)
    evals = np.sort(np.linalg.eigvalsh(cov))[::-1][:8]
    assert np.allclose(sorted(model["explained"], reverse=True), evals,
                       rtol=1e-8)
    # components are orthonormal and variance-ordered
    C = np.array(model["components"])
    assert np.allclose(C @ C.T, np.eye(8), atol=1e-9)
    assert all(a >= b - 1e-12 for a, b in
               zip(model["explained"], model["explained"][1:]))
    # projection agrees with local arithmetic
    proj = SIM.pca_project(emb, model)
    got = {r["vec_id"]: np.array(r["pca"]) for r in proj.collect()}
    ids = [r["vec_id"] for r in
           emb.select("vec_id").orderBy("vec_id").collect()]
    local = (X - np.array(model["mean"])) @ C.T
    for i, vid in enumerate(ids[:25]):
        assert np.allclose(got[vid], local[i], atol=1e-9)


def test_dhash_neardup_pigeonhole_exact(spark):
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        dhash_neardup)
    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0b111),            # hamming 3, all in band 0 -> found
        (3, base ^ (1 << 0) ^ (1 << 20) ^ (1 << 40)),  # spread over 3
                                      # bands, hamming 3 -> band 3 clean
        (4, base ^ 0xF),              # hamming 4 -> beyond threshold
        (5, ~base & 0xFFFFFFFFFFFFFFFF - 2**63 if False else base ^ -1),
    ]
    # row 5: full complement (hamming 64)
    df = spark.createDataFrame(
        [(i, h if h < 2**63 else h - 2**64) for i, h in rows],
        "doc_id long, dhash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           dhash_neardup(df, max_hamming=3, bands=4).collect()}
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 3          # spread bits still caught (pigeonhole)
    assert (1, 4) not in got         # hamming 4 excluded
    assert (1, 5) not in got
    assert (2, 3) not in got         # hamming 6: beyond threshold
    assert got[(2, 4)] == 1          # near-identical variants pair up too


def test_multimodal_map_ops_run_in_streaming(spark, sf_dir, tmp_path):
    """The multimodal map stages (attach -> decode -> hash/fingerprint)
    are mapInPandas projections, so the SAME operator functions run
    unchanged on a readStream DataFrame — streaming media ingest needs no
    reimplementation, and the hashes match the batch run row for row."""
    from servihabitat_etl_spyke_spark.catalog import load_table

    def run_stream(df, name):
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / name))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return df.sparkSession.table(name)

    batch = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 3000)
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .filter(F.col("doc_id") < 3000))
    assert stream.isStreaming

    got = {r["doc_id"]: r["dhash"] for r in
           run_stream(MM.image_dhash(MM.attach_binary(stream)),
                      "mm_dhash").collect()}
    want = {r["doc_id"]: r["dhash"] for r in
            MM.image_dhash(MM.attach_binary(batch)).collect()}
    assert got == want

    got_fp = {r["doc_id"]: r["fp_digest"] for r in
              run_stream(MM.audio_fingerprint(MM.attach_audio(stream)),
                         "mm_fp").collect()}
    want_fp = {r["doc_id"]: r["fp_digest"] for r in
               MM.audio_fingerprint(MM.attach_audio(batch)).collect()}
    assert got_fp == want_fp


def test_dhash_neardup_rejects_pigeonhole_violation(spark):
    # ADVICE r2: max_hamming >= bands silently dropped true pairs whose
    # differing bits spread across every band — now it raises instead
    import pytest
    df = spark.createDataFrame([(1, 0)], "doc_id long, dhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        MM.dhash_neardup(df, max_hamming=6, bands=4)
    with pytest.raises(ValueError, match="divide 64"):
        MM.dhash_neardup(df, max_hamming=3, bands=5)


def test_knn_graph_rejects_zero_norm_vectors(spark):
    # ADVICE r2: a zero-norm embedding produced NaN cosines that ranked
    # unpredictably — now the exact graph fails loudly
    import pytest
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="zero-norm"):
        SIM.knn_graph(df, k=1)


def _neg_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def test_hard_negatives_ivf_matches_exact_composition(spark, sf_dir):
    """The IVF-fed miner must be the exact miner modulo graph recall:
    identical consumer logic (shared helper), so anchors whose top-10
    IVF edges equal the exact edges produce identical negatives."""
    from servihabitat_etl_spyke_spark.queries_northstar import (
        _hard_negatives_from)
    emb = load_table(spark, sf_dir, "embeddings")
    exact = _neg_sets(_hard_negatives_from(
        SIM.knn_graph(emb, k=10, with_score=True)))
    approx = _neg_sets(_hard_negatives_from(
        SIM.knn_graph_ivf(emb, k=10, kc=4, n_probe=2, iters=3,
                          with_score=True)))
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
               for q in exact]
    assert sum(recalls) / len(recalls) >= 0.5, sum(recalls) / len(recalls)


def test_degree_histogram_ivf_preserves_edge_mass(spark, sf_dir):
    """Every anchor has >= k candidates in its probed cells at this SF,
    so the IVF histogram redistributes but never loses edge mass."""
    from servihabitat_etl_spyke_spark.queries_northstar import (
        _degree_histogram)
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    hist = {r["in_degree"]: r["n_vectors"] for r in _degree_histogram(
        SIM.knn_graph_ivf(emb, k=5, kc=4, n_probe=2, iters=3)).collect()}
    assert sum(d * c for d, c in hist.items()) == n * 5


def test_pagerank_ivf_correlates_with_exact(spark, sf_dir):
    """Centrality over the pruned graph must preserve the exact graph's
    ranking signal (rank correlation), not just run."""
    import numpy as np
    from servihabitat_etl_spyke_spark.queries_northstar import (
        _pagerank_over)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300)
    exact = {r["vec_id"]: r["rank_q"] for r in
             _pagerank_over(SIM.knn_graph(emb, k=5)).collect()}
    approx = {r["vec_id"]: r["rank_q"] for r in
              _pagerank_over(SIM.knn_graph_ivf(
                  emb, k=5, kc=4, n_probe=2, iters=3)).collect()}
    ids = sorted(exact)
    a = np.array([exact[i] for i in ids]).argsort().argsort()
    b = np.array([approx.get(i, 0.0) for i in ids]).argsort().argsort()
    n = len(ids)
    rho = 1 - 6 * ((a - b) ** 2).sum() / (n * (n ** 2 - 1))
    assert rho >= 0.5, rho


def test_video_dedup_pipeline_finds_planted_copies(spark):
    """End-to-end video dedup: two docs with identical text and matching
    geometry params (doc_id congruent mod 16 and mod 4) render
    frame-identical BMV videos -> every keyframe hash matches at Hamming
    0; an unrelated doc pairs with neither."""
    docs = spark.createDataFrame(
        [(3, "the same footage re-uploaded twice"),
         (19, "the same footage re-uploaded twice"),   # 19%16=3, 19%4=3%4
         (8, "completely different content here x")],
        "doc_id long, text string")
    from servihabitat_etl_spyke_spark.operators import multimodal as MMod
    kf = MMod.video_keyframe_dhash(MMod.attach_video(docs))
    pairs = {(r["id_a"], r["id_b"]): (r["best_hamming"],
                                      r["n_matching_pairs"])
             for r in MMod.video_dhash_neardup(kf).collect()}
    n_kf_3 = kf.filter(F.col("doc_id") == 3).count()
    assert (3, 19) in pairs
    best, n_match = pairs[(3, 19)]
    assert best == 0
    assert n_match >= n_kf_3       # every keyframe of 3 matches one of 19
    assert not any(8 in p for p in pairs)


def test_video_dhash_neardup_rejects_pigeonhole_violation(spark):
    import pytest
    kf = spark.createDataFrame([(1, 0, 0)],
                               "doc_id long, frame_idx int, dhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        MM.video_dhash_neardup(kf, max_hamming=4, bands=4)


def test_pq_roundtrip_and_recall(spark, sf_dir):
    """PQ pipeline: codebook shapes, code ranges, deterministic re-run,
    and ADC recall@10 against exact L2 on the raw vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = SIM.pq_train(emb, m=16, ks=64, iters=4)
    assert len(books) == 16 and all(len(b) == 64 for b in books)
    assert SIM.pq_train(emb, m=16, ks=64, iters=4) == books  # deterministic

    codes = SIM.pq_encode(emb, books)
    cd = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert all(len(c) == 16 and all(0 <= x < 64 for x in c)
               for c in cd.values())

    queries = emb.filter(F.col("vec_id") < 20)
    approx = _topk_sets(SIM.pq_search(codes, queries, books, k=10))

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    recalls = []
    for r in queries.collect():
        qid, q = r["vec_id"], np.array(r["embedding"], dtype=np.float64)
        d = ((X - q) ** 2).sum(1)
        d[ids == qid] = np.inf
        exact = set(ids[np.argpartition(d, 10)[:10]].tolist())
        recalls.append(len(exact & approx.get(qid, set())) / 10)
    assert sum(recalls) / len(recalls) >= 0.45, sum(recalls) / len(recalls)


def test_pq_encoding_reduces_reconstruction_error(spark, sf_dir):
    """Trained codebooks must beat the untrained seed codebooks on mean
    reconstruction error — k-means actually moved the centroids."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300)
    trained = SIM.pq_train(emb, m=16, ks=64, iters=4)
    seeds = SIM.pq_train(emb, m=16, ks=64, iters=0)

    rows = emb.select("embedding").collect()
    X = np.array([r[0] for r in rows], dtype=np.float64)

    def recon_err(books):
        err = 0.0
        dsub = X.shape[1] // len(books)
        for s, b in enumerate(books):
            C = np.array(b)
            Xs = X[:, s * dsub:(s + 1) * dsub]
            d2 = ((Xs ** 2).sum(1)[:, None] - 2 * Xs @ C.T
                  + (C ** 2).sum(1)[None, :])
            err += d2.min(1).sum()
        return err
    assert recon_err(trained) < 0.75 * recon_err(seeds)


def test_kmeans_minibatch_recovers_cluster_structure(spark):
    """sample_frac minibatch rounds must land on the same separated
    clusters as full-batch Lloyd's (Sculley 2010 minibatch trade)."""
    import itertools

    def onehot(i, scale):
        return [scale if j == i else 0.0 for j in range(4)]

    # interleave ids across clusters so the k lowest-id seed vectors
    # land one per cluster
    rows = [(j * 10 + i, onehot(i, 1.0 + 0.01 * j))
            for i, j in itertools.product(range(4), range(25))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    full = np.array(SIM.kmeans_fit(emb, k=4, iters=4))
    mini = np.array(SIM.kmeans_fit(emb, k=4, iters=4, sample_frac=0.5))
    # same cluster structure: each minibatch centroid sits in the same
    # one-hot axis as its full-batch twin
    assert (full.argmax(1) == mini.argmax(1)).all()
    assert np.abs(full - mini).max() < 0.1


def test_winnowing_guarantee_shared_run_leaves_common_fingerprint(spark):
    """The winnowing theorem: a shared token run of length >= w + k - 1
    (= 8 here) must leave at least one identical (hash) fingerprint in
    both docs; and density is far below one-per-gram."""
    import servihabitat_etl_spyke_spark.operators.text as TXop
    shared = "q w e r t y u i"                           # 8 tokens
    docs = spark.createDataFrame(
        [(1, f"aa bb cc {shared} dd ee"),
         (2, f"{shared} zz xx cc vv bb nn mm kk"),
         (3, "totally different words with no common run at all here")],
        "doc_id long, text string")
    fps = {}
    rows = TXop.winnow_fingerprints(docs, k=4, w=5).collect()
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert fps[1] & fps[2], "shared 8-token run must fingerprint-collide"
    assert not (fps[1] & fps[3])
    # density: far fewer fingerprints than grams
    n_grams_2 = len(docs.filter("doc_id = 2").first()["text"].split()) - 3
    assert len(fps[2]) < n_grams_2


def test_tfidf_cluster_purity_on_planted_topics(spark):
    """Three disjoint-vocabulary topics must separate into pure
    clusters; TF-IDF vectors are unit-norm with zero weight off-topic."""
    import itertools

    import servihabitat_etl_spyke_spark.operators.text as TXop
    topics = {0: "spark shuffle executor catalyst tungsten",
              1: "sonnet stanza meter rhyme couplet",
              2: "enzyme protein ribosome mitosis codon"}
    rows = [(t * 100 + j, " ".join([topics[t]] * 2))
            for t, j in itertools.product(range(3), range(10))]
    # interleave ids so k-means seeds span topics
    rows = [(j * 10 + t, txt) for (orig, txt), (t, j) in
            zip(rows, itertools.product(range(3), range(10)))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    vecs = {r["doc_id"]: r["tfidf"] for r in
            TXop.tfidf_vectors(docs, dim=32).collect()}
    assert all(abs(sum(x * x for x in v) - 1.0) < 1e-9
               for v in vecs.values())

    got = {r["doc_id"]: r["cluster_id"] for r in
           TXop.cluster_documents(docs, k=3, dim=32, iters=3).collect()}
    from collections import Counter
    purity = 0
    for t in range(3):
        members = [got[d] for d in got if d % 10 == t]
        purity += Counter(members).most_common(1)[0][1]
    assert purity / len(got) >= 0.9, purity / len(got)


def test_recall_report_matches_independent_computation(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200)
    exact = SIM.knn_graph(emb, k=5)
    approx = SIM.knn_graph_ivf(emb, k=5, kc=4, n_probe=2, iters=3)
    got = {r["query_id"]: (r["n_exact"], r["n_hit"], r["recall_permille"])
           for r in SIM.recall_report(exact, approx).collect()}
    es, as_ = _topk_sets(exact), _topk_sets(approx)
    for q in es:
        hit = len(es[q] & as_.get(q, set()))
        assert got[q] == (len(es[q]), hit, hit * 1000 // len(es[q])), q


def test_ivfpq_recall(spark, sf_dir):
    """IVF-PQ must find a solid share of true L2 neighbors while probing
    half the cells and reading only residual codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    approx = _topk_sets(SIM.ivfpq_search(emb, queries, k=10, kc=4,
                                         n_probe=2, m=16, ks=64, iters=3))
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    recalls = []
    for r in queries.collect():
        qid, q = r["vec_id"], np.array(r["embedding"], dtype=np.float64)
        d = ((X - q) ** 2).sum(1)
        d[ids == qid] = np.inf
        exact = set(ids[np.argpartition(d, 10)[:10]].tolist())
        recalls.append(len(exact & approx.get(qid, set())) / 10)
    assert sum(recalls) / len(recalls) >= 0.35, sum(recalls) / len(recalls)


def test_rrf_fuse_math_and_order(spark):
    """RRF contributions are exact floor(1e9/(c+rank)) nano-ints; an item
    ranked in both lists outranks single-list items, and the fused order
    matches the hand-computed scores."""
    a = spark.createDataFrame([(10, 1), (20, 2), (30, 3)],
                              "doc_id long, rank long")
    b = spark.createDataFrame([(20, 1), (40, 2)], "doc_id long, rank long")
    got = [(r["doc_id"], r["rrf_nano"], r["n_lists"])
           for r in SIM.rrf_fuse([a, b], id_col="doc_id", k=10).collect()]

    def c(rank):
        return int(1e9) // (60 + rank)

    want = sorted([(10, c(1), 1), (20, c(2) + c(1), 2), (30, c(3), 1),
                   (40, c(2), 1)], key=lambda t: (-t[1], t[0]))
    assert got == want
    assert got[0][0] == 20                  # in both lists -> wins


def test_rrf_fuse_limit_and_single_list(spark):
    rows = [(i, i + 1) for i in range(25)]
    a = spark.createDataFrame(rows, "doc_id long, rank long")
    got = SIM.rrf_fuse([a], id_col="doc_id", k=5).collect()
    assert [r["doc_id"] for r in got] == [0, 1, 2, 3, 4]
    assert all(r["n_lists"] == 1 for r in got)


def test_audio_fp_neardup_gain_invariant_and_discriminating(spark):
    """A half-volume re-encode shares its source's sub-fingerprint words
    (delta-sign bits are gain-invariant); unrelated tracks do not pair."""
    import pandas as pd

    docs = spark.createDataFrame(
        [(1, "x" * 300), (2, "y" * 410)], "doc_id long, text string")
    blobs = MM.attach_audio(docs)
    copies = (MM.audio_gain(MM.attach_audio(
        docs.filter(F.col("doc_id") == 1)), 0.5)
        .withColumn("doc_id", F.col("doc_id") + 100))
    got = {(r["id_a"], r["id_b"]): r["n_shared_words"]
           for r in MM.audio_fp_neardup(
               blobs.unionByName(copies), min_shared=3).collect()}
    assert (1, 101) in got          # planted pair found
    assert (1, 2) not in got and (2, 101) not in got


def test_audio_fp_neardup_alignment_free_on_hop_clipped_copy(spark):
    """A copy with the first 2*hop samples cut still matches: words are
    joined by VALUE, so the shared region's frames line up regardless of
    the offset."""
    import numpy as np
    import pandas as pd

    from servihabitat_etl_spyke_spark.operators.multimodal import (
        decode_wav, encode_wav, render_doc_wav)

    full = render_doc_wav(4, "z" * 470)          # 1-channel, long
    samples, sr = decode_wav(full)
    clipped = encode_wav(samples[64:], sr)       # cut 2 hops off the front
    other = render_doc_wav(9, "w" * 200)
    pdf = pd.DataFrame({"doc_id": [1, 2, 3],
                        "content": [full, clipped, other],
                        "media_type": ["audio/wav"] * 3})
    blobs = spark.createDataFrame(pdf)
    got = {(r["id_a"], r["id_b"])
           for r in MM.audio_fp_neardup(blobs, min_shared=3).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_fp_words_distinct_and_deterministic(spark):
    docs = spark.createDataFrame([(5, "q" * 350)], "doc_id long, text string")
    w1 = sorted(r["word"] for r in
                MM.audio_fp_words(MM.attach_audio(docs)).collect())
    w2 = sorted(r["word"] for r in
                MM.audio_fp_words(MM.attach_audio(docs)).collect())
    assert w1 == w2 and len(w1) == len(set(w1)) and len(w1) >= 3


def test_knn_classify_ivf_tracks_exact(spark, sf_dir):
    from servihabitat_etl_spyke_spark.queries import QUERIES
    exact = {r["label"]: r["acc_permille"] for r in
             QUERIES["ann_knn_classify"](spark, sf_dir).collect()}
    ivf = {r["label"]: r["acc_permille"] for r in
           QUERIES["ann_knn_classify_ivf"](spark, sf_dir).collect()}
    assert set(ivf) == set(exact)
    # pruned-graph accuracy tracks the exact composition per class
    for lbl, acc in exact.items():
        assert abs(ivf[lbl] - acc) <= 250, (lbl, acc, ivf[lbl])


def test_trained_classifier_separates_domains(spark):
    from servihabitat_etl_spyke_spark.operators.text import (
        apply_trained_classifier, train_hashed_classifier)
    pos = [(i, "stir the sauce simmer onions butter garlic bake bread "
               "season roast thyme pepper whisk eggs", True)
           for i in range(24)]
    neg = [(100 + i, "def main args return parse input tokens exit class "
                     "node left right insert delete tree", False)
           for i in range(24)]
    docs = spark.createDataFrame(pos + neg,
                                 "doc_id long, text string, y boolean")
    w = train_hashed_classifier(docs, "y", buckets=256, iters=12, lr=1.0)
    assert len(w) == 256 and any(abs(v) > 0 for v in w)
    scored = {r["doc_id"]: r["keep"] for r in
              apply_trained_classifier(docs, w).collect()}
    acc = (sum(scored[i] for i in range(24))
           + sum(not scored[100 + i] for i in range(24))) / 48
    assert acc >= 0.95, acc
    # held-out docs built from in-vocabulary bigrams classify correctly
    # (bigram features generalize through shared phrases, not new ones)
    held = spark.createDataFrame(
        [(900, "stir the sauce simmer onions butter"),
         (901, "class node left right insert delete")],
        "doc_id long, text string")
    hs = {r["doc_id"]: r["keep"] for r in
          apply_trained_classifier(held, w).collect()}
    assert hs[900] and not hs[901]


def test_classifier_pr_sweep_exact_counts(spark):
    """Hand-checked confusion counts on a 4-row frame: scores
    (0.5, 0.5, -0.5, -0.5), labels (T, F, T, F). At t=0: tp=1 fp=1 fn=1
    -> precision=recall=500000 ppm. At t=0.25: same. At t=-0.5: all
    predicted positive -> tp=2 fp=2 fn=0."""
    from servihabitat_etl_spyke_spark.operators.text import (
        classifier_pr_sweep)
    df = spark.createDataFrame(
        [(0.5, True), (0.5, False), (-0.5, True), (-0.5, False)],
        "logit double, y boolean")
    out = {r["th_micro"]: r for r in
           classifier_pr_sweep(df, label_col="y").collect()}
    assert (out[0]["tp"], out[0]["fp"], out[0]["fn"]) == (1, 1, 1)
    assert out[0]["precision_ppm"] == 500000
    assert out[0]["recall_ppm"] == 500000
    assert (out[-500000]["tp"], out[-500000]["fp"],
            out[-500000]["fn"]) == (2, 2, 0)
    assert out[-500000]["recall_ppm"] == 1000000
    # threshold == top score: inclusive compare keeps both 0.5 rows
    assert (out[500000]["tp"], out[500000]["fp"]) == (1, 1)
    assert out[500000]["precision_ppm"] == 500000


def test_quantile_profile_exact_interpolation(spark):
    """percentile_cont semantics on [0,10,20,30,40]: p25 = 10, p50 = 20,
    p75 = 30 (exact index), p95 = 38, p99 = 39.6 (interpolated)."""
    from servihabitat_etl_spyke_spark.operators.profile import (
        quantile_profile)
    df = spark.createDataFrame([(float(x),) for x in (0, 10, 20, 30, 40)],
                               "v double")
    r = quantile_profile(df, ["v"]).collect()[0]
    assert r["col_name"] == "v"
    assert r["p250_e4"] == 100000
    assert r["p500_e4"] == 200000
    assert r["p750_e4"] == 300000
    assert r["p950_e4"] == 380000
    assert r["p990_e4"] == 396000


def test_mmr_defers_planted_near_copy(spark):
    """Corpus: d1 highly relevant, d2 a near-copy of d1, d3 moderately
    relevant but diverse. Relevance-only ranks (d1, d2, d3); MMR with a
    diversity weight must rank the diverse d3 above the redundant d2."""
    from servihabitat_etl_spyke_spark.operators.similarity import (
        cosine_topk, mmr_rerank)
    rows = [
        (0, [1.0, 0.0, 0.0]),          # query
        (1, [0.99, 0.14, 0.0]),        # top hit
        (2, [0.99, 0.141, 0.0]),       # near-copy of 1
        (3, [0.7, 0.0, 0.71]),         # diverse, less relevant
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 0")
    rel = [r["neighbor_id"] for r in
           sorted(cosine_topk(emb, q, k=3).collect(),
                  key=lambda r: r["rank"])]
    assert rel == [1, 2, 3]
    mmr = [r["neighbor_id"] for r in
           sorted(mmr_rerank(emb, q, k=3, pool=3, lam=0.5).collect(),
                  key=lambda r: r["rank"])]
    assert mmr == [1, 3, 2]


def test_mmr_lam1_equals_relevance_ranking(spark, sf_dir):
    """With lam=1 the redundancy term vanishes: MMR order must equal the
    pure cosine ranking over the same pool."""
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.similarity import (
        cosine_topk, mmr_rerank)
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3)
    base = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in cosine_topk(emb, q, k=5).collect()}
    mmr = {(r["query_id"], r["rank"]): r["neighbor_id"]
           for r in mmr_rerank(emb, q, k=5, pool=20, lam=1.0).collect()}
    assert mmr == base


def test_jl_projection_preserves_distance_structure(spark, sf_dir):
    """JL with a sparse Achlioptas matrix: projected pairwise squared
    distances must correlate strongly with the originals (exact-epsilon
    bounds need larger out_dim than a toy table warrants, so pin the
    rank-order property: correlation and determinism)."""
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.similarity import jl_project
    # structured vectors whose pairwise distances span two orders of
    # magnitude (isotropic near-random tables concentrate all pairwise
    # distances, which would test noise, not the projection)
    rng = np.random.default_rng(11)
    base = rng.normal(size=(8, 16))
    rows = []
    vid = 0
    for scale in (0.1, 1.0, 4.0, 16.0):
        for c in range(8):
            for _ in range(2):
                v = base[c] * scale + rng.normal(scale=0.01, size=16)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    orig = {r[0]: np.array(r[1], dtype=float) for r in rows}
    proj1 = {r["vec_id"]: np.array(r["projected"], dtype=float)
             for r in jl_project(emb, out_dim=8).collect()}
    proj2 = {r["vec_id"]: np.array(r["projected"], dtype=float)
             for r in jl_project(emb, out_dim=8).collect()}
    ids = sorted(orig)
    # deterministic: same matrix every invocation
    for v in ids:
        assert np.array_equal(proj1[v], proj2[v])
    d_orig, d_proj = [], []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids), 5):
            a, b = ids[i], ids[j]
            d_orig.append(np.sum((orig[a] - orig[b]) ** 2))
            d_proj.append(np.sum((proj1[a] - proj1[b]) ** 2))
    corr = np.corrcoef(d_orig, d_proj)[0, 1]
    assert corr > 0.8, corr


def test_phash_luminance_invariance_and_discrimination():
    """pHash must be bit-identical under exact 2x contrast halving (all
    pixel values even -> halving is exact, multiplicative scaling
    preserves every above-median comparison) and far from an unrelated
    image's hash."""
    rng = np.random.default_rng(5)
    px = (rng.integers(0, 128, size=(40, 56, 3), dtype=np.uint8) * 2)
    half = (px // 2).astype(np.uint8)
    other = (rng.integers(0, 128, size=(40, 56, 3), dtype=np.uint8) * 2)
    h1 = MM.phash_bits(px)
    h2 = MM.phash_bits(half)
    h3 = MM.phash_bits(other)
    assert h1 == h2
    assert bin(h1 ^ h3).count("1") > 10


def test_image_phash_spark_matches_local(spark, sf_dir):
    """The distributed map stage must agree with a local recompute over
    the same encoded bytes."""
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(4)
    blobs = MM.attach_binary(docs)
    out = {r["doc_id"]: r["phash"] for r in MM.image_phash(blobs).collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for did, text in texts.items():
        px = MM.decode_image(MM.render_doc_bmp(did, text))
        expect = MM.phash_bits(px)
        # the stored column is signed 64-bit; compare as unsigned
        assert out[did] % (1 << 64) == expect % (1 << 64)


def test_jl_rerank_recall_vs_exact(spark, sf_dir):
    """Retrieve-in-projected-space + exact rerank: the pool comes from
    12 of 16 dims on near-isotropic vectors, so demand solid but not
    perfect recall of the exact top-10."""
    from servihabitat_etl_spyke_spark.queries import QUERIES
    exact = _topk_sets(SIM.cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5),
        k=10))
    got = _topk_sets(QUERIES["ann_jl_rerank_topk"](spark, sf_dir))
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q])
               for q in exact]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_token_entropy_known_values(spark):
    """Hand-checked against the QUANTIZED pipeline (each run's c·ln c is
    floored to nano ints before summing — the fold-order-free discipline
    — so expectations replay that exact arithmetic, within 1 nano of the
    analytic H): all-same -> 0; all-distinct -> ln(n); half-half ->
    ln(2)."""
    import math
    from servihabitat_etl_spyke_spark.operators.text import token_entropy

    def expected(counts):
        n = sum(counts)
        s = sum(math.floor(c * math.log(c) * 1e9 + 0.5) for c in counts)
        return (math.floor(math.log(n) * 1e9 + 0.5)
                - math.floor(s / n + 0.5))

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in token_entropy(docs).collect()}
    assert out[1]["entropy_nano"] == expected([4]) == 0
    assert out[2]["entropy_nano"] == expected([1, 1, 1, 1]) \
        == math.floor(math.log(4) * 1e9 + 0.5)
    assert out[3]["entropy_nano"] == expected([2, 2])
    assert abs(out[3]["entropy_nano"]
               - math.floor(math.log(2) * 1e9 + 0.5)) <= 1


def test_compression_ratio_orders_repetitive_prose_random(spark):
    """zlib ratio must order repetitive < prose-ish < random, and be
    deterministic across invocations."""
    import random
    from servihabitat_etl_spyke_spark.operators.text import (
        compression_ratio)
    rng = random.Random(3)
    rand_text = " ".join("".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                                 for _ in range(8)) for _ in range(100))
    docs = spark.createDataFrame(
        [(1, "spam " * 200),
         (2, "the quick brown fox jumps over the lazy dog and then "
             "keeps running through fields of green grass " * 10),
         (3, rand_text)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["ratio_permille"] for r in
           compression_ratio(docs).collect()}
    again = {r["doc_id"]: r["ratio_permille"] for r in
             compression_ratio(docs).collect()}
    assert out == again
    assert out[1] < out[2] < out[3]


def test_distinct_ngrams_short_docs_no_crash_and_zero_grams(spark):
    """Docs shorter than n contribute ZERO n-grams (oracle semantics) and
    must not crash the slice() lambda — sequence(1,0) descends.
    Regression: r4 ADVICE high (one-word/empty docs broke the query)."""
    from servihabitat_etl_spyke_spark.operators.text import (
        distinct_ngram_ratios)
    docs = spark.createDataFrame(
        [(1, "a", "one"), (2, "", "one"), (3, "x y z w", "one")],
        "doc_id long, text string, source string")
    out = {(r["n"]): r for r in
           distinct_ngram_ratios(docs, group_col="source").collect()}
    # unigrams: 'a' + '' (split of "" yields ['']) + 4 tokens
    assert out[1]["total_grams"] >= 5
    # bigrams/trigrams come ONLY from doc 3 (len 4): 3 bigrams, 2 trigrams
    assert out[2]["total_grams"] == 3
    assert out[3]["total_grams"] == 2


def test_cosine_zero_norm_vector_never_ranks_first(spark):
    """An all-zero embedding must score 0.0 (not NaN — which Spark sorts
    ABOVE every real score under desc) and so can never displace a real
    neighbor."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0]),
            (4, [0.5, 0.5])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id = 1")
    ranked = sorted((r["rank"], r["neighbor_id"]) for r in
                    SIM.cosine_topk(emb, q, k=3).collect())
    assert ranked == [(1, 2), (2, 4), (3, 3)]   # zero vector last


def test_topk_idx_resolves_boundary_ties_by_id():
    """Candidates tied exactly at the k-boundary must be kept/dropped by
    (score, id asc), never by argpartition's arbitrary internal order."""
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.similarity import _topk_idx
    ids = np.array([9, 5, 7, 3], dtype=np.int64)
    scores = np.array([1.0, 0.5, 0.5, 0.5])
    idx = _topk_idx(scores, ids, 2)
    assert ids[idx].tolist() == [9, 3]      # lowest id among the tied 0.5s
    # ascending variant (ADC distances)
    d = np.array([0.1, 0.3, 0.3, 0.9])
    idx = _topk_idx(d, ids, 2, descending=False)
    assert ids[idx].tolist() == [9, 5]      # 0.3-tie resolved to id 5 < 7


def test_ann_empty_queries_and_corpus_raise_or_return_empty(spark):
    import pytest
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    some = spark.createDataFrame([(1, [1.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    assert SIM.cosine_topk(some, emb, k=3).count() == 0
    assert SIM.knn_graph(emb, k=2).count() == 0
    with pytest.raises(ValueError, match="empty input"):
        SIM.ann_lsh_topk(emb, some, k=2)


def test_quality_features_empty_text_and_caps_stopwords(spark):
    """Empty text must not DIVIDE_BY_ZERO the job under ANSI mode
    (punct_ratio defined as 0 there), and ALL-CAPS English must still
    count stopwords (case-insensitive matching)."""
    docs = spark.createDataFrame(
        [(1, ""), (2, "THE CAT IS ON THE MAT")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.quality_features(docs).collect()}
    assert out[1]["punct_ratio"] == 0.0
    assert out[2]["stopword_ratio"] > 0


def test_language_id_case_insensitive_and_zh_substring(spark):
    """Title-case/ALL-CAPS text scores markers (confirmed live failure
    before the fix: 'THE CAT...' -> 'und'), and unsegmented Chinese —
    one whitespace token — counts markers by substring occurrence."""
    docs = spark.createDataFrame(
        [(1, "THE CAT IS ON THE MAT"),
         (2, "El perro y la casa que es de madera"),
         (3, "我是学生他是老师的朋友")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in TX.language_id(docs).collect()}
    assert out[1]["lang_pred"] == "en" and out[1]["score_en"] >= 3
    assert out[2]["lang_pred"] == "es"
    assert out[3]["lang_pred"] == "zh" and out[3]["score_zh"] >= 3


def test_fingerprint_trims_leading_trailing_whitespace(spark):
    """Docs differing only by a trailing newline must collide (confirmed
    live divergence before the fix)."""
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world\n"), (3, " hello  world ")],
        "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in
          TX.fingerprint(docs).collect()}
    assert fp[1] == fp[2] == fp[3]


def test_phrase_search_rejects_empty_and_multispace_phrases(spark):
    import pytest
    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty phrase"):
        TX.phrase_search(docs, "")
    with pytest.raises(ValueError, match="empty phrase"):
        TX.phrase_search(docs, "a  b")


def test_media_decode_contains_malformed_known_magic_blobs():
    """Blobs that START like BMP/PPM but don't parse (text beginning
    'BM', truncated headers, absurd dimensions) must land in the
    deterministic stub — struct.error escaped the old handling and a
    62-byte 'BM' text blob returned garbage width (confirmed live)."""
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        media_decode, media_decode_stub)
    for blob in (b"BMhello", b"BM" + b"x" * 60, b"P6 is a nice format",
                 b"P6\n"):
        assert media_decode(blob) == media_decode_stub(blob)
    # a REAL bmp still parses for real
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        render_doc_bmp)
    real = render_doc_bmp(3, "hello world")
    assert media_decode(real)["width"] == len("hello world") % 24 + 4


def test_hash_bit_width_guards():
    import numpy as np
    import pytest
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        dhash_bits, phash_bits)
    px = np.zeros((8, 8, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="64-bit"):
        dhash_bits(px, 10, 10)
    with pytest.raises(ValueError, match="64-bit"):
        phash_bits(px, 32, 10)


def test_resize_keeps_media_type_and_feeds_meta(spark):
    """resize_images output must stay a valid blob table: media_type
    survives the re-encode so extract_media_meta composes on top."""
    from servihabitat_etl_spyke_spark.operators import multimodal as M
    docs = spark.createDataFrame([(1, "hello world")],
                                 "doc_id long, text string")
    blobs = M.attach_binary(docs)
    resized = M.resize_images(blobs, 16, 16)
    assert "media_type" in resized.columns
    meta = M.extract_media_meta(
        resized.select("doc_id", "content", "media_type")).collect()[0]
    assert (meta["width"], meta["height"]) == (16, 16)


def test_ppm_meta_accepts_long_comment_headers():
    from servihabitat_etl_spyke_spark.operators.multimodal import (
        decode_ppm, decode_ppm_meta, encode_ppm)
    import numpy as np
    base = encode_ppm(np.zeros((2, 2, 3), dtype=np.uint8))
    # inject a 300-byte comment between the magic and the dimensions
    long_comment = b"P6\n#" + b"c" * 300 + b"\n" + base[3:]
    assert decode_ppm(long_comment).shape == (2, 2, 3)
    assert decode_ppm_meta(long_comment) == (2, 2)


def test_psi_drift_excludes_nulls_and_pagerank_empty_schema(spark):
    """psi_drift: NULL values must not inflate bin 0 (greatest/least skip
    NULLs, silently counting them at the low edge before the fix).
    pagerank: the empty-graph frame inherits the edge id type, so
    empty-day unions don't schema-clash with string vertex ids."""
    from servihabitat_etl_spyke_spark.operators.graph import pagerank
    from servihabitat_etl_spyke_spark.operators.profile import psi_drift
    ref = spark.createDataFrame(
        [(0.5,)] * 8 + [(None,)] * 4, "v double")
    cur = spark.createDataFrame([(0.5,)] * 8, "v double")
    out = {r.bin: (r.n_ref, r.n_cur)
           for r in psi_drift(ref, cur, "v", 0.0, 1.0, bins=2).collect()}
    # identical non-null distributions: bin 0 must NOT carry the nulls
    assert out[0] == (0, 0) and out[1] == (8, 8)
    empty = spark.createDataFrame([], "id_a string, id_b string")
    pr = pagerank(empty)
    assert pr.count() == 0
    assert dict(pr.dtypes)["v"] == "string"


def test_pagerank_final_checkpoint_pins_result(spark):
    """r8 ADVICE: ``final_checkpoint=True`` materializes the ranks so a
    multi-action consumer re-reads pinned values (no re-execution of
    the final sub-interval, no fold-order rank drift across actions).
    Witness: the returned plan is a checkpointed RDD scan with NO join,
    while the default lazy form still carries the iteration joins; the
    pinned values equal the lazy ones."""
    from servihabitat_etl_spyke_spark.operators.graph import pagerank
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3)], "id_a long, id_b long")
    lazy = pagerank(edges, iters=6)
    pinned = pagerank(edges, iters=6, final_checkpoint=True)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("simple")
    lazy_plan = lazy._jdf.queryExecution().explainString(mode)
    pinned_plan = pinned._jdf.queryExecution().explainString(mode)
    assert "Join" in lazy_plan
    assert "Join" not in pinned_plan and "ExistingRDD" in pinned_plan
    got = {r["v"]: round(r["rank"], 9) for r in pinned.collect()}
    want = {r["v"]: round(r["rank"], 9) for r in lazy.collect()}
    assert got == want and abs(sum(got.values()) - 1.0) < 1e-9


def test_r5_review_guards(spark):
    """Round-5 review fixes: empty-query ivfpq, corrupt-blob containment
    in the hashing/resize sweeps, render_doc_wav int64 overflow,
    driver-side audio_fp_words guard, pca_fit k>dim, and the zero-norm
    reject parity between knn_graph and knn_graph_ivf."""
    import pytest

    # ivfpq_search: empty query batch -> empty frame, not AxisError
    corpus = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<double>")
    empty_q = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = SIM.ivfpq_search(corpus, empty_q, k=3, kc=2, m=2, ks=4)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank"]

    # pca_fit: k beyond the vector dim fails loudly, never truncates
    with pytest.raises(ValueError, match="exceeds embedding dim"):
        SIM.pca_fit(corpus, k=16)

    # knn_graph_ivf rejects zero-norm embeddings like knn_graph does
    withzero = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="zero-norm"):
        SIM.knn_graph_ivf(withzero, k=1, kc=1, n_probe=1).collect()

    # audio_fp_words: invalid width raises on the DRIVER, pre-launch
    blobs = spark.createDataFrame([(1, b"x", "audio/wav")],
                                  "doc_id long, content binary, media_type string")
    with pytest.raises(ValueError, match="word too wide"):
        MM.audio_fp_words(blobs, bands=17, word_frames=4)

    # render_doc_wav: doc_id beyond the int64 product range still renders,
    # and the keystream matches an INDEPENDENT arbitrary-precision
    # recompute of the documented formula (a wrong-modulus regression in
    # the overflow workaround would change these samples)
    import struct as _struct
    did = 4_000_000_000  # (did+1)*2654435761 > 2**63-1: the overflow case
    big = MM.render_doc_wav(did, "hello world")
    assert big[:4] == b"RIFF"
    n_frames = len("hello world") % 480 + 32
    channels = did % 2 + 1
    n_samples = n_frames * channels
    expected = [((did + 1) * 2654435761 + i * 40503) % 65536 - 32768
                for i in range(n_samples)]  # pure-Python bigint math
    payload = big[-2 * n_samples:]
    got = list(_struct.unpack(f"<{n_samples}h", payload))
    assert got == expected

    # corrupt blobs are dropped, not fatal, in hash/resize sweeps
    mixed = spark.createDataFrame(
        [(1, MM.render_doc_bmp(1, "real image payload"), "image/bmp"),
         (2, b"BM\x01\x02truncated", "image/bmp"),
         (3, b"not an image at all", "text/plain")],
        "doc_id long, content binary, media_type string")
    assert [r.doc_id for r in MM.image_dhash(mixed).collect()] == [1]
    assert [r.doc_id for r in MM.image_phash(mixed).collect()] == [1]
    assert [r.doc_id for r in MM.resize_images(mixed, 8, 8).collect()] == [1]


def test_line_filter_and_dedup_lines(spark):
    """C4 line filter: gates drop short/bullet lines, order preserved;
    FineWeb dedup_lines: boilerplate line stripped from every doc,
    all-boilerplate docs come back empty (not dropped)."""
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps high\n- bullet item\nshort ln\n"
             "a perfectly reasonable content line here"),
         (2, "cookie banner accept all cookies now\n"
             "the quick brown fox jumps high"),
         (3, "cookie banner accept all cookies now")],
        "doc_id long, text string")
    lf = {r.doc_id: r for r in TX.line_filter(
        docs, min_chars=10, min_words=4).collect()}
    assert lf[1].n_lines == 4 and lf[1].n_kept == 2
    assert lf[1].text_clean == ("the quick brown fox jumps high\n"
                                "a perfectly reasonable content line here")

    dl_docs = spark.createDataFrame(
        [(1, "unique line alpha\nCookie Banner\nunique line beta"),
         (2, "cookie banner\nunique line gamma"),
         (3, "another one\ncookie banner"),
         (4, "COOKIE BANNER")],
        "doc_id long, text string")
    dl = {r.doc_id: r for r in TX.dedup_lines(dl_docs, min_docs=3).collect()}
    # 'cookie banner' (case/trim-normalized) appears in 4 docs -> removed
    assert dl[1].text_clean == "unique line alpha\nunique line beta"
    assert dl[2].text_clean == "unique line gamma"
    assert dl[3].text_clean == "another one"
    # all-boilerplate doc survives with empty text, zero kept
    assert dl[4].n_kept == 0 and dl[4].text_clean == ""
    assert dl[4].n_lines == 1


def test_r6_null_and_empty_text_guards(spark):
    """Round-6 review fixes: empty/NULL-text docs through the line and
    repetition operators — no divide-by-zero, no silently dropped docs."""
    docs = spark.createDataFrame(
        [(1, "normal line of words here\nnormal line of words here"),
         (2, ""), (3, None)],
        "doc_id long, text string")

    # ngram_repetition_signals: empty text -> every e6 signal pinned to
    # 0 (no chars => nothing repeated), never a divide-by-zero; NULL
    # text likewise (n_chars stays NULL, matching length() semantics)
    sig = {r.doc_id: r for r in
           TX.ngram_repetition_signals(docs).collect()}
    assert sig[2].n_chars == 0
    for n in (2, 3, 4):
        assert sig[2][f"top{n}_e6"] == 0 and sig[3][f"top{n}_e6"] == 0
    for n in range(5, 11):
        assert sig[2][f"dup{n}_e6"] == 0 and sig[3][f"dup{n}_e6"] == 0

    # dedup_lines: NULL-text doc comes BACK (empty), not dropped, and
    # its single empty line participates in the boilerplate count
    dl = {r.doc_id: r for r in TX.dedup_lines(docs, min_docs=2).collect()}
    assert set(dl) == {1, 2, 3}
    assert dl[3].n_lines == 1 and dl[3].text_clean == ""

    # line_filter: NULL text -> one (dropped) empty line, not n_lines=-1
    lf = {r.doc_id: r for r in
          TX.line_filter(docs, min_chars=5, min_words=3).collect()}
    assert set(lf) == {1, 2, 3}
    assert lf[3].n_lines == 1 and lf[3].n_kept == 0
    assert lf[3].text_clean == ""


def test_ngram_repetition_signals_local_recompute(spark):
    """Sorted-run fold == brute-force local recompute for the
    top/dup char-fraction definitions, including the n > len edge."""
    rows = [(1, "spam spam spam spam eggs"),
            (2, "a b c d e f g h"),
            (3, "x y x y x y x y x y"),
            (4, "tiny")]
    # deterministic pseudo-random corpus from a tiny vocab: dense gram
    # collisions exercise run boundaries, count ties, and length ties
    vocab = ["aa", "b", "ccc", "aa b"]
    for did in range(5, 45):
        n = did % 13 + 1
        rows.append((did, " ".join(
            vocab[(did * 7 + j * j) % len(vocab)] for j in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.ngram_repetition_signals(
        docs, top_ns=(2,), dup_ns=(2,)).collect()}

    def brute(text, n):
        toks = text.split(" ")
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)] \
            if len(toks) >= n else []
        from collections import Counter
        c = Counter(grams)
        best = max((k * len(g) for g, k in c.items()), default=0)
        dup = sum((k - 1) * len(g) for g, k in c.items() if k > 1)
        import math
        nch = len(text)
        return (math.floor(best * 1e6 / nch + 0.5),
                math.floor(dup * 1e6 / nch + 0.5))

    for did, text in rows:
        b_top, b_dup = brute(text, 2)
        assert out[did]["top2_e6"] == b_top, (did, out[did])
        assert out[did]["dup2_e6"] == b_dup, (did, out[did])


def test_domain_suffix_blocklist_semantics(spark):
    """Entry blocks itself and all subdomains; unrelated lookalike
    domains and NULL domains survive."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        domain_suffix_blocklist)
    d = spark.createDataFrame(
        [(1, "spam.com"), (2, "cdn.spam.com"), (3, "a.b.spam.com"),
         (4, "notspam.com"), (5, "spam.com.evil.org"), (6, None)],
        "doc_id long, domain string")
    bl = spark.createDataFrame([("spam.com",)], "dom string")
    kept = sorted(r.doc_id for r in domain_suffix_blocklist(d, bl).collect())
    assert kept == [4, 5, 6]


def test_r6_audio_video_corrupt_blob_containment(spark):
    """Round-6 review fix: one corrupt/foreign blob in an audio or video
    table drops from every sweep instead of killing the job; degenerate
    headers (block_align=0 WAV, zero-dim BMP, fps=0 BMV) fail as
    ValueError inside the containment class, never ZeroDivision/Index
    errors outside it."""
    import pytest
    import struct as _st
    # block_align=0 WAV: fmt chunk parses, division guard must catch
    bad_fmt = (b"RIFF" + _st.pack("<I", 36) + b"WAVE"
               + _st.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 0, 0, 0, 16)
               + _st.pack("<4sI", b"data", 4) + b"\x00" * 4)
    with pytest.raises(ValueError, match="degenerate WAV"):
        MM.decode_wav_meta(bad_fmt)
    with pytest.raises(ValueError, match="degenerate BMP"):
        MM.decode_bmp(b"BM" + b"\x00" * 8 + _st.pack("<I", 54)
                      + _st.pack("<IiiHHI", 40, 0, 4, 1, 24, 0)
                      + b"\x00" * 64)

    audio = spark.createDataFrame(
        [(1, MM.render_doc_wav(1, "hello world"), "audio/wav"),
         (2, b"RIFFjunk", "audio/wav"),
         (3, bad_fmt, "audio/wav"),
         (4, b"not audio at all", "text/plain")],
        "doc_id long, content binary, media_type string")
    assert [r.doc_id for r in MM.extract_audio_meta(audio).collect()] == [1]
    assert [r.doc_id for r in MM.audio_features(audio).collect()] == [1]
    # win=8/hop=4: doc 1's clip is shorter than the default 64-frame
    # window, which would legitimately emit zero windows
    assert {r.doc_id for r in
            MM.sample_audio_windows(audio, win=8, hop=4).collect()} == {1}
    assert [r.doc_id for r in
            MM.audio_fingerprint(audio, win=8, hop=4).collect()] == [1]
    assert [r.doc_id for r in MM.audio_gain(audio, 0.5).collect()] == [1]
    assert {r.doc_id for r in
            MM.audio_fp_words(audio, win=8, hop=4).collect()} == {1}

    video = spark.createDataFrame(
        [(1, MM.render_doc_bmv(1, "scene one scene two"), "video/bmv"),
         (2, b"BMV1" + b"\x01", "video/bmv"),
         (3, b"garbage", "video/bmv")],
        "doc_id long, content binary, media_type string")
    assert {r.doc_id for r in MM.extract_video_meta(video).collect()} == {1}
    assert {r.doc_id for r in
            MM.sample_video_frames(video).collect()} == {1}
    assert {r.doc_id for r in
            MM.detect_scene_changes(video).collect()} <= {1}
    assert {r.doc_id for r in
            MM.video_keyframe_dhash(video).collect()} == {1}


def test_r6_quality_feature_semantics(spark):
    """Round-6 review fixes: punctuation ratio is Unicode-aware (CJK and
    accented LETTERS are not punctuation), and all-caps requires a cased
    letter (numeric/symbol tokens are not shouting)."""
    docs = spark.createDataFrame(
        [(1, "我是学生 café naïve"),          # letters only, one space set
         (2, "2021 3.14 100% WARN"),          # caseless + one real caps
         (3, "plain ascii text!")],
        "doc_id long, text string")
    q = {r.doc_id: r for r in TX.quality_features(docs).collect()}
    # CJK/accented letters are NOT punctuation: only spaces + diacritics
    # context — ratio must be far below the ~1.0 the ASCII \\w gave
    assert q[1].punct_ratio < 0.1
    # '2021', '3.14', '100%' are caseless -> not all-caps; 'WARN' is
    assert q[2].uppercase_token_ratio == 0.25
    # ASCII behavior unchanged: one '!' out of 17 chars
    assert abs(q[3].punct_ratio - 1 / len("plain ascii text!")) < 1e-6


def test_ann_kernels_reject_null_and_ragged_embeddings(spark):
    """r7 review class: a NULL (or ragged) embedding mid-corpus must
    raise a NAMED contract error from every numpy kernel — not numpy's
    'inhomogeneous shape' crash deep inside a task. knn_graph (which
    has ids driver-side) must name the offending id."""
    rows = [(i, [float(i + 1), 2.0, 1.0, 0.5]) for i in range(20)]
    rows[7] = (7, None)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    with pytest.raises(ValueError, match=r"NULL embedding.*\[7\]"):
        SIM.knn_graph(df, k=3).count()
    with pytest.raises(Exception, match="NULL embedding"):
        SIM.knn_graph_ivf(df, k=3, kc=2, n_probe=1, iters=2).count()
    with pytest.raises(Exception, match="NULL embedding"):
        SIM.kmeans_fit(df, k=2, iters=2)
    with pytest.raises(Exception, match="NULL embedding"):
        SIM.assign_to_centroids(
            df, [[1.0, 2.0, 1.0, 0.5], [3.0, 2.0, 1.0, 0.5]]
        ).select("centroid_id").collect()

    ragged = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(10)]
    ragged[4] = (4, [1.0, 2.0])
    df2 = spark.createDataFrame(ragged,
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=r"ragged embedding dimensions"):
        SIM.knn_graph(df2, k=3).count()


def test_to_matrix_names_non_sequence_elements():
    """r8 ADVICE: a NON-SIZED element (scalar float) in the ragged
    handler used to make len(v) raise an uncaught TypeError INSIDE the
    except block, masking the named contract error _to_matrix exists to
    provide. It must now name the offending rows instead."""
    from servihabitat_etl_spyke_spark.operators.similarity import _to_matrix
    with pytest.raises(ValueError,
                       match=r"malformed embedding row.*\[1\]"):
        _to_matrix([[1.0, 2.0], 3.14, [4.0, 5.0]], [10, 1, 12], "op_x")
    # without ids in scope, the batch-level fallback message still works
    with pytest.raises(ValueError, match="malformed embedding row"):
        _to_matrix([[1.0, 2.0], 3.14], None, "op_x")
    # genuinely ragged (all sized) keeps the dimension message
    with pytest.raises(ValueError, match="ragged embedding dimensions"):
        _to_matrix([[1.0, 2.0], [1.0, 2.0, 3.0]], [0, 1], "op_x")
    # r8 review: strings/bytes ARE sized, so without an isinstance arm
    # a same-length string row fell through to the ragged branch and
    # reported dimensions that aren't ragged — it must be named as a
    # malformed row like any other non-sequence element
    with pytest.raises(ValueError,
                       match=r"malformed embedding row.*\[7\]"):
        _to_matrix([[1.0, 2.0], "ab"], [3, 7], "op_x")


def test_ann_kernels_reject_nan_elements_and_ragged_seeds(spark):
    """r7 review round 2: a NULL *element* inside an array<double>
    arrives as NaN from Arrow and previously sailed through the
    whole-row NULL guard, poisoning the GEMM silently; a ragged seed
    vector crashed kmeans_fit cryptically at np.asarray(cents). Both
    must now raise named contract errors, and pca/pq/mmr query-side
    ingestion joins the same class."""
    rows = [(i, [float(i + 1), 2.0, 1.0, 0.5]) for i in range(20)]
    rows[3] = (3, [1.0, None, 3.0, 4.0])      # NaN element, not NULL row
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match=r"non-finite element.*\[3\]"):
        SIM.knn_graph(df, k=3).count()

    ragged = [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0])]
    df2 = spark.createDataFrame(ragged,
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="ragged embedding dimensions"):
        SIM.kmeans_fit(df2, k=2, iters=1)

    nulls = [(i, [float(i + 1), 2.0, 1.0, 0.5]) for i in range(20)]
    nulls[5] = (5, None)
    df3 = spark.createDataFrame(nulls,
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="NULL embedding"):
        SIM.pca_fit(df3, k=2)
    with pytest.raises(Exception, match="NULL embedding"):
        SIM.pq_train(df3, m=2, ks=4, iters=1)

    # mmr query side: a NaN ELEMENT in the query vector previously
    # made every MMR score NaN and crashed argmin on an empty mask
    corpus = spark.createDataFrame(
        [(i, [float(i + 1), 2.0, 1.0, 0.5]) for i in range(8)],
        "vec_id long, embedding array<double>")
    nan_query = spark.createDataFrame(
        [(100, [1.0, None, 3.0, 4.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-finite element"):
        SIM.mmr_rerank(corpus, nan_query, k=3, pool=5).count()
