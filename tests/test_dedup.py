

def test_signature_ops_drop_null_text(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, None), (3, None)],
        "doc_id long, text string")
    from servihabitat_etl_spyke_spark.operators.dedup import (
        minhash_signatures, simhash)
    assert minhash_signatures(docs).count() == 1
    assert simhash(docs).count() == 1


def test_connected_components_chain_and_island(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components)
    # chain 1-2-3-4 (diameter 3) + island 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"]
           for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_auto_switch_matches_simple(spark):
    """The default entry (driver union-find under ``driver_cap``) and
    ``connected_components_star`` (the large-star/small-star leg at any
    size) label a chain + island identically."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")
    simple = {r["doc_id"]: r["cluster_id"]
              for r in connected_components(pairs).collect()}
    starred = {r["doc_id"]: r["cluster_id"]
               for r in connected_components_star(pairs).collect()}
    assert starred == simple == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def _union_find_truth(edges):
    """{vertex: min vertex of its component} by a pure-Python union-find."""
    parent = {v: v for e in edges for v in e}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {v: min(u for u in parent if find(u) == find(v)) for v in parent}


def _labels_by_leg(monkeypatch, pairs):
    """(driver leg labels, star leg labels) of ``pairs``; asserts that the
    default entry took the driver union-find."""
    from servihabitat_etl_spyke_spark.operators import dedup as D
    calls = []
    real = D._cc_driver_union_find

    def spy(p, pdf):
        calls.append(len(pdf))
        return real(p, pdf)

    monkeypatch.setattr(D, "_cc_driver_union_find", spy)
    driver = {r.doc_id: r.cluster_id
              for r in D.connected_components(pairs).collect()}
    assert calls, "the default entry did not take the driver leg"
    star = {r.doc_id: r.cluster_id
            for r in D.connected_components_star(pairs).collect()}
    return driver, star


def test_connected_components_random_graphs_match_union_find(
        spark, monkeypatch):
    """Seeded random multigraphs (self-loops included): both legs — the
    driver union-find and large-star/small-star — match an independent
    pure-Python union-find on graphs with mixed component shapes, not
    just hand-built chains."""
    import random
    rng = random.Random(6)
    for _ in range(3):
        n = 30
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(35)]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        driver, star = _labels_by_leg(monkeypatch, pairs)
        assert driver == star == _union_find_truth(edges)


def test_connected_components_string_random_graphs_match_union_find(
        spark, monkeypatch):
    """String ids take the driver union-find under the cap too, and both
    legs match the pure-Python union-find. Non-ASCII ids pin the order:
    Python compares str by code point, Spark by UTF-8 bytes, and the
    two orders agree."""
    import random
    rng = random.Random(11)
    names = [f"d{i}" for i in range(24)] + ["é1", "Ω", "z", "ß9", "中"]
    for _ in range(3):
        edges = [(rng.choice(names), rng.choice(names)) for _ in range(30)]
        pairs = spark.createDataFrame(edges, "id_a string, id_b string")
        driver, star = _labels_by_leg(monkeypatch, pairs)
        assert driver == star == _union_find_truth(edges)


def test_connected_components_string_chain_converges(spark):
    """A 61-vertex string-id chain: the min label must reach the far end
    through the default entry and through the large-star/small-star
    leg, whose round count does not grow with the diameter."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    pairs = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i + 1:03d}") for i in range(60)],
        "id_a string, id_b string")
    want = {(f"v{i:03d}", "v000") for i in range(61)}
    assert set(map(tuple, connected_components(pairs).collect())) == want
    assert set(map(tuple,
                   connected_components_star(pairs).collect())) == want


def test_connected_components_drops_null_id_pairs(spark):
    """A pair with a NULL id is dropped by both legs (a NULL key matches
    nothing); the rest of the graph is labelled as usual."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (5, 5)], "id_a long, id_b long")
    want = {(1, 1), (2, 1), (5, 5)}
    assert set(map(tuple, connected_components(pairs).collect())) == want
    assert set(map(tuple,
                   connected_components_star(pairs).collect())) == want


def test_connected_components_long_path_converges(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components_star)
    # path 0-1-2-...-12: min label must travel the full diameter
    # through the distributed leg
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long")
    out = connected_components_star(pairs).collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == 13


def test_connected_components_driver_cap_routing(spark):
    """The under-cap driver union-find and the large-star/small-star leg
    must label identically (self-pairs included), and a graph past
    ``driver_cap`` must route to the distributed leg unchanged."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7), (10, 11), (11, 10)],
        "id_a long, id_b long")
    want = {1: 1, 2: 1, 3: 1, 7: 7, 10: 10, 11: 10}
    fast = {r.doc_id: r.cluster_id
            for r in connected_components(pairs).collect()}
    # driver_cap below the pair count: the same call must take the
    # distributed leg (no collect) and produce the same labels
    slow = {r.doc_id: r.cluster_id
            for r in connected_components(pairs, driver_cap=3).collect()}
    assert fast == want
    assert slow == want


def test_minhash_signature_matches_hashlib_ground_truth(spark):
    """Pin the signature bytes to an independent hashlib computation —
    guards against expression-building bugs (e.g. PySpark treating a
    2-param lambda as (element, index) and silently binding a closure
    default to the index column, which once made signatures
    plan-context-dependent)."""
    import hashlib
    from servihabitat_etl_spyke_spark.operators.dedup import (
        _MH_PRIME, _mh_params, minhash_signatures)
    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee")], "doc_id long, text string")
    r = minhash_signatures(docs, k=8).collect()[0]
    shingles = ["aa bb cc", "bb cc dd", "cc dd ee"]
    base = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            for s in shingles]
    av, bv = _mh_params(8)
    for i in range(8):
        assert r[f"mh{i}"] == min(
            (av[i] * h + bv[i]) % _MH_PRIME for h in base), i


def test_signature_is_plan_context_independent(spark):
    """The same doc must get the same signature whether signed alone or
    within a larger corpus (incremental dedup depends on it)."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        minhash_signatures)
    full = spark.createDataFrame(
        [(i, f"w{i} x y z a b c") for i in range(20)],
        "doc_id long, text string")
    subset = full.filter("doc_id = 7")
    a = minhash_signatures(full).filter("doc_id = 7").collect()[0]
    b = minhash_signatures(subset).collect()[0]
    assert a.asDict() == b.asDict()


def test_incremental_equals_full_restricted(spark, sf_dir):
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.dedup import (
        incremental_neardup, minhash_lsh_neardup, minhash_signatures)
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    stored = docs.filter(F.col("doc_id") % 5 != 0)
    inc = incremental_neardup(new, stored,
                              minhash_signatures(stored)).collect()
    full = (minhash_lsh_neardup(docs)
            .filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
            .collect())
    assert sorted(map(tuple, inc)) == sorted(map(tuple, full))


def test_connected_components_raises_on_nonconvergence(spark):
    """Exiting by the round cap with edges still moving must raise, not
    return silently-wrong cluster ids. The guard lives in the
    large-star/small-star leg (the driver union-find needs no rounds):
    one round does not turn a path into a star."""
    import pytest

    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components_star)
    path_graph = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(path_graph, max_iter=1)


def test_embedding_neardup_drops_zero_vectors(spark):
    """A zero embedding has no direction: dividing by its 0 norm yields
    NaN, and Spark sorts NaN above every double, so zero vectors used to
    pair with EVERYTHING. They must emit no pairs at all."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        embedding_neardup)
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.0]),
         (4, [0.9, 0.1])],
        "vec_id long, embedding array<double>")
    pairs = {(r["id_a"], r["id_b"])
             for r in embedding_neardup(emb, threshold=0.45).collect()}
    assert pairs == {(3, 4)}


def test_semantic_dedup_drops_planted_duplicates(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import semantic_dedup

    def onehot(i):
        return [1.0 if j == i else 0.0 for j in range(8)]

    rows = ([(i, onehot(i)) for i in range(6)]
            + [(100, onehot(0)),                       # exact copy of vec 0
               (101, [2.0 * x for x in onehot(1)]),    # scaled copy (cos=1)
               (102, [0.0] * 8)])                      # zero norm
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, k=3, threshold=0.99, iters=2).collect()}
    assert 102 not in out                   # zero vectors have no direction
    assert out[100]["keep"] is False and out[0]["keep"] is True
    assert out[101]["keep"] is False and out[1]["keep"] is True
    assert sorted(v for v, r in out.items() if not r["keep"]) == [100, 101]
    # identical direction -> identical cluster (the dup IS found in-cluster)
    assert out[100]["centroid_id"] == out[0]["centroid_id"]
    assert out[101]["centroid_id"] == out[1]["centroid_id"]


def test_semantic_dedup_lsh_matches_exact_prune(spark):
    """The LSH prune must recover the exact prune's drop set on planted
    duplicates (identical/scaled copies hash to identical signatures, so
    every band collides — recall 1.0 on exact dups), and must never drop
    a vector the exact operator keeps (drops come from verified cosine,
    so false positives are impossible)."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        semantic_dedup, semantic_dedup_lsh)

    def onehot(i):
        return [1.0 if j == i else 0.0 for j in range(8)]

    rows = ([(i, onehot(i)) for i in range(6)]
            + [(100, onehot(0)),
               (101, [2.0 * x for x in onehot(1)]),
               (102, [0.0] * 8)])
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {r["vec_id"]: r["keep"] for r in
             semantic_dedup(emb, k=3, threshold=0.99, iters=2).collect()}
    lsh = {r["vec_id"]: r["keep"] for r in
           semantic_dedup_lsh(emb, k=3, threshold=0.99, iters=2,
                              bands=8, rows=4).collect()}
    assert set(lsh) == set(exact)           # same population (zero-norm out)
    # exact-duplicate directions are always caught (signatures identical)
    assert lsh[100] is False and lsh[101] is False
    # no false drops: anything LSH drops, exact drops too
    assert all(exact[v] is False for v, k in lsh.items() if k is False)


def test_semantic_dedup_lsh_recall_on_corpus(spark, sf_dir):
    """Recall of the LSH prune vs the exact prune on the real embeddings
    table: at 8 bands x 4 rows and cos 0.45 the candidate recall bound is
    high enough that the drop sets should match near-exactly."""
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.dedup import (
        semantic_dedup, semantic_dedup_lsh)
    emb = load_table(spark, sf_dir, "embeddings")
    exact_drops = {r["vec_id"] for r in
                   semantic_dedup(emb, k=8, threshold=0.45, iters=2)
                   .filter("NOT keep").collect()}
    lsh_drops = {r["vec_id"] for r in
                 semantic_dedup_lsh(emb, k=8, threshold=0.45, iters=2,
                                    bands=8, rows=4)
                 .filter("NOT keep").collect()}
    assert lsh_drops <= exact_drops         # verified cosine => no extras
    if exact_drops:
        recall = len(lsh_drops) / len(exact_drops)
        assert recall >= 0.9, (recall, len(exact_drops))


def test_cdc_boundaries_tile_and_respect_bounds():
    import numpy as np

    from servihabitat_etl_spyke_spark.operators.dedup import cdc_boundaries
    rng = np.random.default_rng(9)
    data = rng.integers(0, 256, 50_000, dtype=np.uint8).tobytes()
    bounds = cdc_boundaries(data, min_size=128, avg_size=512, max_size=2048)
    assert bounds[-1] == len(data)
    prev = 0
    for i, b in enumerate(bounds):
        size = b - prev
        assert size <= 2048
        if i < len(bounds) - 1:          # final chunk may be short
            assert size >= 128
        prev = b
    # empty and tiny inputs
    assert cdc_boundaries(b"") == []
    assert cdc_boundaries(b"xy") == [2]


def test_cdc_resynchronizes_after_insertion():
    """THE content-defined property: prepending bytes shifts offsets but
    the remaining chunk CONTENT (digests) re-synchronizes — fixed-size
    chunking would lose every chunk after the edit point."""
    import hashlib

    import numpy as np

    from servihabitat_etl_spyke_spark.operators.dedup import cdc_boundaries

    def digests(raw):
        bs = cdc_boundaries(raw)
        return [hashlib.md5(raw[i:j]).hexdigest()
                for i, j in zip([0] + bs[:-1], bs)]

    rng = np.random.default_rng(4)
    base = rng.integers(0, 256, 20_000, dtype=np.uint8).tobytes()
    edited = b"inserted-preamble!" + base
    d0, d1 = set(digests(base)), set(digests(edited))
    assert len(d0 & d1) >= len(d0) - 2   # only the first chunk(s) differ


def test_cdc_chunk_table_and_dedup_stats(spark):
    from pyspark.sql import functions as F

    from servihabitat_etl_spyke_spark.operators.dedup import (
        cdc_chunk_table, cdc_dedup_stats)
    text = "tok " * 2000
    rows = [(1, text + "alpha"), (2, text + "beta"), (3, "tiny")]
    blobs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.encode("text", "utf-8").alias("content"))
    t = cdc_chunk_table(blobs, min_size=64, avg_size=256, max_size=1024)
    rows_out = t.collect()
    per_doc = {}
    for r in rows_out:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for did, chunks in per_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        # chunks tile the blob exactly
        assert chunks[0]["offset"] == 0
        for a, b in zip(chunks, chunks[1:]):
            assert a["offset"] + a["length"] == b["offset"]
    # docs 1 and 2 share identical leading content -> shared digests and
    # real bytes_saved in the corpus accounting
    stats = cdc_dedup_stats(blobs, min_size=64, avg_size=256,
                            max_size=1024).collect()
    assert any(s["copies"] >= 2 and s["bytes_saved"] > 0 for s in stats)


def test_stop_shingle_cap_prevents_quadratic_boilerplate_pairs(spark):
    """A boilerplate shingle shared by EVERY doc makes each pair share >=1
    shingle (candidate blowup O(n^2)); the stop-shingle cap drops it before
    the join, leaving only genuinely similar pairs."""
    from servihabitat_etl_spyke_spark.operators.dedup import jaccard_pairs
    boiler = "same old footer text"
    rows = [(i, f"unique{i} words here {i} " * 3 + boiler) for i in range(10)]
    # two planted real near-dups
    rows.append((100, "alpha beta gamma delta epsilon zeta " + boiler))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta " + boiler))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = jaccard_pairs(docs, threshold=0.05).count()
    capped = jaccard_pairs(docs, threshold=0.05,
                           max_shingle_doc_frac=0.5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert len(got) < uncapped        # boilerplate-only pairs are gone
    assert all(a >= 100 for a, _ in got)  # only the planted pair family


def test_canonical_selection_prefers_score_then_id(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        canonical_selection)
    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 7)],
        "doc_id long, n_chars long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long")
    got = {r["doc_id"]: (r["cluster_id"], r["canonical_id"],
                         r["is_canonical"]) for r in
           canonical_selection(docs, clusters).collect()}
    # cluster 1: doc 2 wins (n_chars 30, lower id than doc 3)
    assert got[1] == (1, 2, False)
    assert got[2] == (1, 2, True)
    assert got[3] == (1, 2, False)
    # singletons are their own canonical
    assert got[4] == (4, 4, True)
    assert got[9] == (9, 9, True)


def test_pagerank_matches_local_power_iteration(spark):
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.graph import pagerank
    # star (0 hub) + chain + a dangling-ish leaf, undirected
    pairs = [(0, 1), (0, 2), (0, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r["v"]: r["rank"] for r in
           pagerank(edges, damping=0.85, iters=20).collect()}
    # local dense power iteration, identical formulation
    nodes = sorted({v for p in pairs for v in p})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj = np.zeros((n, n))
    for a, b in pairs:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1
    deg = adj.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(20):
        contrib = adj.T @ (r / deg)
        r = (1 - 0.85) / n + 0.85 * contrib   # no dangling: all deg > 0
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the hub out-ranks every leaf
    assert got[0] == max(got.values())


def test_pagerank_dangling_mass_redistributed(spark):
    from servihabitat_etl_spyke_spark.operators.graph import pagerank
    # directed chain 1 -> 2 -> 3: vertex 3 is dangling
    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    got = {r["v"]: r["rank"] for r in
           pagerank(edges, damping=0.85, iters=30, directed=True).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9   # no rank mass lost
    assert got[3] > got[2] > got[1]              # rank flows downstream


def test_pagerank_empty_edges_returns_empty(spark):
    # ADVICE r2: 1.0/n raised ZeroDivisionError on an empty edge table
    from servihabitat_etl_spyke_spark.operators.graph import pagerank
    edges = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank(edges)
    assert out.columns == ["v", "rank"]
    assert out.count() == 0


def test_canonical_selection_custom_id_col(spark):
    # ADVICE r2: the clusters frame's id column was hard-coded 'doc_id',
    # breaking any caller that ran the pipeline with a custom id_col
    from servihabitat_etl_spyke_spark.operators.dedup import (
        canonical_selection)
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50)], "page_id long, n_chars long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "page_id long, cluster_id long")
    got = {r["page_id"]: (r["canonical_id"], r["is_canonical"]) for r in
           canonical_selection(docs, clusters, id_col="page_id").collect()}
    assert got == {1: (2, False), 2: (2, True), 3: (2, False)}


def test_duplicate_spans_merges_overlapping_windows(spark):
    """Two docs share one long passage: every covering 4-gram repeats, so
    the marked windows must merge into ONE maximal span per doc (not one
    span per gram), positioned where the passage sits in each doc."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        duplicate_spans, remove_duplicate_spans)
    shared = "alpha beta gamma delta epsilon zeta eta theta"      # 8 toks
    docs = spark.createDataFrame(
        [(1, f"{shared} unique tail one two three"),
         (2, f"front matter here {shared}"),
         (3, "totally unrelated words nothing repeats at all here")],
        "doc_id long, text string")
    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
             for r in duplicate_spans(docs, min_len=4).collect()}
    assert spans[1] == (0, 8, 8)
    assert spans[2] == (3, 11, 8)
    assert 3 not in spans
    # removal cuts exactly the span, keeps everything else
    out = {r["doc_id"]: r for r in
           remove_duplicate_spans(docs, min_len=4).collect()}
    assert out[1]["text_deduped"] == "unique tail one two three"
    assert out[1]["n_tokens_removed"] == 8
    assert out[2]["text_deduped"] == "front matter here"
    assert out[3]["text_deduped"] == \
        "totally unrelated words nothing repeats at all here"
    assert out[3]["n_tokens_removed"] == 0


def test_duplicate_spans_within_doc_repetition(spark):
    """Self-repetition counts: the same 4-gram twice in ONE doc marks
    both occurrences (count >= 2 is corpus-wide, including within-doc)."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        duplicate_spans)
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam x y z spam spam spam spam")],
        "doc_id long, text string")
    got = [(r["span_start"], r["span_end"]) for r in
           duplicate_spans(docs, min_len=4).orderBy("span_start").collect()]
    assert got == [(0, 4), (7, 11)]


def test_duplicate_spans_matches_local_bruteforce(spark):
    """Randomized cross-check: 60 docs over a 12-word vocabulary (dense
    gram collisions) — the distributed span table must equal a local
    brute-force mark-and-merge reference exactly."""
    import random
    from collections import Counter

    from servihabitat_etl_spyke_spark.operators.dedup import (
        duplicate_spans)

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    texts = {did: " ".join(rng.choice(vocab)
                           for _ in range(rng.randint(2, 30)))
             for did in range(60)}
    L = 4

    grams = Counter()
    for t in texts.values():
        toks = t.split(" ")
        for s in range(len(toks) - L + 1):
            grams[tuple(toks[s:s + L])] += 1
    want = set()
    for did, t in texts.items():
        toks = t.split(" ")
        marked = [s for s in range(len(toks) - L + 1)
                  if grams[tuple(toks[s:s + L])] >= 2]
        spans, cur = [], None
        for s in marked:
            if cur is not None and s <= cur[1]:
                cur = (cur[0], max(cur[1], s + L))
            else:
                if cur:
                    spans.append(cur)
                cur = (s, s + L)
        if cur:
            spans.append(cur)
        for a, b in spans:
            want.add((did, a, b, b - a))

    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"], r["span_end"], r["span_len"])
           for r in duplicate_spans(docs, min_len=L).collect()}
    assert got == want and want, (len(got), len(want))


def test_containment_catches_quote_inclusion_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment ~1.0,
    Jaccard tiny — the asymmetric detector finds it, the symmetric one
    (at any useful threshold) does not."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        containment_pairs, jaccard_pairs)

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i}" for i in range(80))
    big = filler + " " + small
    other = " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string")

    cont = {(r["contained_id"], r["container_id"]): r["containment"]
            for r in containment_pairs(docs, threshold=0.6).collect()}
    assert (1, 2) in cont
    assert cont[(1, 2)] == 1.0              # every shingle of 1 is in 2
    assert (2, 1) not in cont               # asymmetric: big not in small
    assert (1, 3) not in cont and (3, 1) not in cont

    jac = jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []                        # symmetric Jaccard misses it


def test_containment_directions_independent(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import containment_pairs

    # identical docs: both directions = 1.0
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id long, text string")
    got = sorted((r["contained_id"], r["container_id"], r["containment"])
                 for r in containment_pairs(docs, threshold=0.9).collect())
    assert got == [(1, 2, 1.0), (2, 1, 1.0)]


def test_sorted_neighborhood_finds_prefix_dups_and_documents_miss(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        sorted_neighborhood_pairs)

    body = " ".join(f"tok{i}" for i in range(30))
    near = body.replace("tok15", "changed")
    # 3/4: the same pair but with BOTH the prefix and the suffix region
    # rewritten -> neither blocking pass co-locates them (the documented
    # SNM recall trade vs LSH)
    disguised = "zz qq pp " + near + " yy xx ww"
    docs = spark.createDataFrame(
        [(1, body), (2, near), (3, body), (4, disguised),
         (5, "completely different text about other things entirely")],
        "doc_id long, text string")

    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in sorted_neighborhood_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in got and got[(1, 2)] > 0.8          # same prefix: found
    assert (1, 3) in got and got[(1, 3)] == 1.0         # identical: found
    assert (3, 4) not in got and (1, 4) not in got      # disguised: missed
    assert not any(5 in p for p in got)


def test_sorted_neighborhood_reverse_pass_catches_suffix_match(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        sorted_neighborhood_pairs)

    body = " ".join(f"tok{i}" for i in range(30))
    # different prefix, same suffix -> only the reversed-key pass blocks it
    prefixed = "zz qq pp " + body
    docs = spark.createDataFrame(
        [(1, body), (2, prefixed)], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in sorted_neighborhood_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) in got


def test_corpus_overlap_identical_and_disjoint(spark):
    from servihabitat_etl_spyke_spark.operators import dedup as D
    rows_a = [(i, f"alpha beta gamma delta epsilon token{i} zeta eta")
              for i in range(30)]
    rows_b = [(100 + i, f"one two three four five item{i} six seven")
              for i in range(30)]
    a = spark.createDataFrame(rows_a, "doc_id long, text string")
    b = spark.createDataFrame(rows_b, "doc_id long, text string")
    same = D.corpus_overlap(a, a, k=16).collect()[0]
    assert same["n_equal"] == 16
    assert same["jaccard_est_permille"] == 1000
    diff = D.corpus_overlap(a, b, k=16).collect()[0]
    # disjoint shingle sets: expected agreement ~J=0; allow sketch noise
    assert diff["n_equal"] <= 2


def test_corpus_overlap_estimates_true_jaccard(spark):
    from servihabitat_etl_spyke_spark.operators import dedup as D
    # corpus B = half of A plus fresh docs -> true shingle Jaccard ~1/3
    shared = [(i, f"shared run of text number {i} with stable words here")
              for i in range(40)]
    only_a = [(200 + i, f"alpha only document {i} talks about unique topics")
              for i in range(40)]
    only_b = [(400 + i, f"beta exclusive piece {i} covering other matters")
              for i in range(40)]
    a = spark.createDataFrame(shared + only_a, "doc_id long, text string")
    b = spark.createDataFrame(shared + only_b, "doc_id long, text string")
    est = D.corpus_overlap(a, b, k=64).collect()[0]
    # true J ~ 1/3; with k=64 the binomial std is ~6 permille points
    assert 150 <= est["jaccard_est_permille"] <= 550


def test_prefix_filter_matches_full_join_with_fewer_candidates(spark):
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.operators import dedup as D
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "common filler words shared across docs")
    rows = [(i, base + f" unique{i} tail{i} extra{i}") for i in range(30)]
    rows += [(100 + i, f"totally different text {i} about other things "
              f"entirely new tokens {i}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = sorted(map(tuple,
                      D.jaccard_pairs(docs, threshold=0.3).collect()))
    pf = sorted(map(tuple,
                    D.prefix_filter_pairs(docs, threshold=0.3).collect()))
    assert pf == full and len(full) > 0
    # the prefix index is strictly smaller than the full shingle table
    sh = D.shingle_table(docs)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    from pyspark.sql.window import Window as W
    ranked = (sh.join(freq, "shingle")
              .withColumn("_pos", F.row_number().over(
                  W.partitionBy("doc_id").orderBy("_df", "shingle")))
              .withColumn("_sz", F.count("*").over(W.partitionBy("doc_id"))))
    plen = F.col("_sz") - F.ceil(F.col("_sz") * F.lit(0.3)) + 1
    n_prefix = ranked.filter(F.col("_pos") <= plen).count()
    assert n_prefix < sh.count()


def test_audio_dedup_pipeline_maps_reencodes_to_sources(spark, sf_dir):
    """Every planted half-volume re-encode (+100000 id) must land in the
    same cluster as its source, and the source (smaller id) must be the
    canonical representative."""
    from servihabitat_etl_spyke_spark.queries import QUERIES
    out = QUERIES["multimodal_audio_dedup"](spark, sf_dir).collect()
    by_id = {r["doc_id"]: r for r in out}
    copies = [r for r in out if r["doc_id"] >= 100000]
    assert copies, "planted re-encodes must appear in the pair graph"
    for r in copies:
        src = r["doc_id"] - 100000
        assert src in by_id
        assert by_id[src]["cluster_id"] == r["cluster_id"]
        assert r["cluster_id"] <= src
        assert not r["is_canonical"]


def test_simhash_neardup_guards_and_finds_planted_copy(spark):
    import pytest
    from servihabitat_etl_spyke_spark.operators import dedup as D
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base),
            (2, base.replace("sigma", "sigmaX")),   # near-copy
            (3, "entirely different text about other topics and words "
                "with no overlap at all in any shingle range")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in D.simhash_neardup(docs, max_hamming=6,
                                        bands=8).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    with pytest.raises(ValueError):
        D.simhash_neardup(docs, max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        D.simhash_neardup(docs, bands=5)


def test_cc_star_matches_label_propagation(spark):
    import random
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    rnd = random.Random(7)
    # long chain (the adversarial case for label propagation), two dense
    # blobs, islands, and random noise edges
    edges = [(i, i + 1) for i in range(0, 40)]                 # chain 0..40
    edges += [(100 + rnd.randrange(8), 100 + rnd.randrange(8))
              for _ in range(20)]                              # dense blob
    edges += [(200, 201), (300, 301)]                          # islands
    edges += [(rnd.randrange(50), rnd.randrange(50)) for _ in range(15)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # the default entry takes the driver union-find on a graph this size
    want = sorted(map(tuple, connected_components(df).collect()))
    got = sorted(map(tuple, connected_components_star(df).collect()))
    assert got == want and len(got) > 0


def test_cc_star_empty_and_selfloop_only(spark):
    """The star leg keeps the driver leg's output contract for direct
    callers too: a vertex appearing only in self-pairs is its own
    singleton cluster, not silently dropped."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0
    loops = spark.createDataFrame([(5, 5)], "id_a long, id_b long")
    got = sorted(map(tuple, connected_components_star(loops).collect()))
    want = sorted(map(tuple, connected_components(loops).collect()))
    assert got == want == [(5, 5)]


def test_cc_incremental_equals_full_recompute(spark):
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_incremental)
    day1 = [(1, 2), (2, 3), (10, 11), (20, 21)]
    # day 2 bridges two old clusters, extends one, adds a fresh one
    day2 = [(3, 10), (21, 22), (30, 31)]
    d1 = spark.createDataFrame(day1, "id_a long, id_b long")
    d2 = spark.createDataFrame(day2, "id_a long, id_b long")
    labels1 = connected_components(d1)
    # a singleton doc known to the catalog but in no pair
    labels1 = labels1.unionByName(
        spark.createDataFrame([(99, 99)], "doc_id long, cluster_id long"))
    inc = sorted(map(tuple,
                     connected_components_incremental(labels1, d2)
                     .collect()))
    full = sorted(map(tuple, connected_components(
        d1.unionByName(d2)).collect()))
    # the incremental result must equal the full recompute on every doc
    # that appears in some pair, plus preserve the untouched singleton
    assert [t for t in inc if t[0] != 99] == full
    assert (99, 99) in inc


def test_minhash_windowed_equals_filtered_full_pairs(spark, sf_dir):
    """The two-bucket trick is lossless: windowed pairs == full LSH pair
    set filtered to |Δday| <= window, for a window that splits the
    planted duplicates across bucket boundaries."""
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.dedup import (
        minhash_lsh_neardup, minhash_lsh_neardup_windowed)
    docs = (load_table(spark, sf_dir, "documents")
            .withColumn("crawl_day", F.col("doc_id") % 45))
    full = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_neardup(docs, threshold=0.5).collect()}
    days = {r["doc_id"]: r["crawl_day"]
            for r in docs.select("doc_id", "crawl_day").collect()}
    expect = {(a, b) for a, b in full if abs(days[a] - days[b]) <= 7}
    got = {(r["id_a"], r["id_b"])
           for r in minhash_lsh_neardup_windowed(
               docs, "crawl_day", window=7, threshold=0.5).collect()}
    assert got == expect
    assert got < full          # the window genuinely cuts pairs


def test_corpus_overlap_matrix_identical_and_disjoint_groups(spark):
    """Two groups with IDENTICAL shingle sets must estimate 1000 permille
    (every corpus-min agrees); a disjoint third group must sit far below."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        corpus_overlap_matrix)
    base = [f"w{i} w{i+1} w{i+2} w{i+3} w{i+4}" for i in range(0, 40, 5)]
    other = [f"z{i} z{i+1} z{i+2} z{i+3} z{i+4}" for i in range(0, 40, 5)]
    rows = ([(i, t, "a") for i, t in enumerate(base)]
            + [(100 + i, t, "b") for i, t in enumerate(base)]
            + [(200 + i, t, "c") for i, t in enumerate(other)])
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["source_a"], r["source_b"]): r["jaccard_est_permille"]
           for r in corpus_overlap_matrix(docs, "source", k=16).collect()}
    assert out[("a", "b")] == 1000
    assert out[("a", "c")] < 500 and out[("b", "c")] < 500


def test_cc_auto_switch_keeps_selfpair_only_vertices(spark):
    """A vertex appearing ONLY in self-pairs must survive the star leg
    as its own singleton cluster — the driver leg labels it, so the
    star leg must too (identical-label contract). Regression: r4 ADVICE
    (self-pair vertices vanished from the star path)."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        connected_components, connected_components_star)
    edges = [(1, 2), (2, 3), (7, 7), (9, 9), (3, 3)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    want = sorted(map(tuple, connected_components(df).collect()))
    got = sorted(map(tuple, connected_components_star(df).collect()))
    assert got == want
    assert (7, 7) in got and (9, 9) in got and (3, 1) in got


def test_snm_drops_null_text_and_simhash_rejects_wide_bits(spark):
    """NULL-text docs must not pair with each other via a shared NULL
    blocking key (jaccard([NULL],[NULL]) verified 1.0 before the fix);
    simhash must refuse bits > its 32-bit base hash (high bits would be
    identically zero, degenerating banded joins into cross products);
    cdc_boundaries must refuse non-power-of-two avg_size (wrong mask
    probability)."""
    import pytest
    from servihabitat_etl_spyke_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text here words"),
         (4, "real text here words")],
        "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.sorted_neighborhood_pairs(docs, threshold=0.3).collect()}
    assert (1, 2) not in pairs and (3, 4) in pairs
    with pytest.raises(ValueError, match="32-bit"):
        D.simhash(docs, bits=64)
    with pytest.raises(ValueError, match="power of two"):
        D.cdc_boundaries(b"x" * 1000, avg_size=500)


def test_r6_null_text_guards_dedup(spark):
    """Round-6 review fixes: NULL-text rows can't fabricate duplicates
    (exact_dedup drops them; verify_pairs rejects NULL-NULL candidate
    pairs in the shared helper), and remove_duplicate_spans returns
    NULL-text docs with empty text + sane counts, not phantom tokens."""
    from servihabitat_etl_spyke_spark.operators.dedup import (
        exact_dedup, remove_duplicate_spans, verify_pairs)
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "x y z")], "doc_id long, text string")

    # exact_dedup: md5(NULL) groups would collapse 1+2 into one "dup"
    out = exact_dedup(docs).collect()
    assert len(out) == 1 and out[0].n_copies == 1   # only doc 3

    # verify_pairs: a caller-supplied (1,2) NULL-NULL pair must NOT
    # verify at jaccard 1.0
    cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long").persist()
    cand.count()
    assert verify_pairs(docs, cand, threshold=0.1).count() == 0

    # remove_duplicate_spans: NULL text -> empty text, non-negative counts
    rds = {r.doc_id: r for r in remove_duplicate_spans(
        docs, min_len=2).collect()}
    assert set(rds) == {1, 2, 3}
    assert rds[1].text_deduped == "" and rds[1].n_tokens_removed == 0
    assert rds[1].n_tokens_kept >= 0
    assert rds[3].text_deduped == "x y z"


def test_knn_graph_guard_fires_before_collect(spark):
    """Round-6 review fix: the small-by-contract limit is checked from
    count x dim BEFORE collecting the corpus to the driver — an
    over-limit corpus raises (pointing at knn_graph_ivf) without ever
    materializing driver-side Rows."""
    import pytest
    from servihabitat_etl_spyke_spark.operators import similarity as SIM
    corpus = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="use knn_graph_ivf"):
        SIM.knn_graph(corpus, k=2, max_closure_cells=10)
    assert SIM.knn_graph(corpus.limit(0), k=2).count() == 0
