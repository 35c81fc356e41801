"""Corpus-curation operator tests: PII positives on crafted rows, chunking
edge cases, packing semantics, sampling determinism, decontamination
ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from servihabitat_etl_spyke_spark.operators import curation as C


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_redact_masks_all_pattern_kinds(spark):
    docs = _docs(spark, [
        (1, "mail me at alice.smith+x@example.co.uk today"),
        (2, "ssn 123-45-6789 ok"),
        (3, "call +1 (555) 123-4567 now"),
        (4, "host 192.168.0.1 down"),
        (5, "clean text with no pii at all"),
    ])
    out = {r["doc_id"]: r for r in C.pii_redact(docs).collect()}
    assert out[1]["redacted"] == "mail me at <EMAIL> today"
    assert out[2]["redacted"] == "ssn <SSN> ok"
    assert out[3]["redacted"] == "call <PHONE> now"
    assert out[4]["redacted"] == "host <IP> down"
    assert out[5]["redacted"] == "clean text with no pii at all"
    assert [out[i]["n_pii"] for i in range(1, 6)] == [1, 1, 1, 1, 0]


def test_pii_redact_ssn_not_eaten_by_phone(spark):
    # SSN runs before the generic phone pattern; a combined line keeps both
    docs = _docs(spark, [(1, "id 123-45-6789 tel 555-123-4567")])
    r = C.pii_redact(docs).collect()[0]
    assert r["redacted"] == "id <SSN> tel <PHONE>"
    assert r["n_pii"] == 2


def test_chunk_tokens_windows_and_overlap(spark):
    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    docs = _docs(spark, [(1, text), (2, "a b")])
    out = C.chunk_tokens(docs, max_tokens=4, overlap=1)
    rows = {(r["doc_id"], r["chunk_idx"]): r for r in out.collect()}
    # doc 1: starts 0,3,6 (start 9 >= len - overlap would add nothing new)
    assert rows[(1, 0)]["chunk"] == "t0 t1 t2 t3"
    assert rows[(1, 1)]["chunk"] == "t3 t4 t5 t6"
    assert rows[(1, 2)]["chunk"] == "t6 t7 t8 t9"
    assert (1, 3) not in rows
    # consecutive chunks share exactly `overlap` tokens
    assert rows[(1, 0)]["chunk"].split()[-1] == rows[(1, 1)]["chunk"].split()[0]
    # short doc -> exactly one chunk, untruncated
    assert rows[(2, 0)]["chunk"] == "a b" and (2, 1) not in rows


def test_chunk_tokens_covers_every_token(spark):
    text = " ".join(f"w{i}" for i in range(137))
    docs = _docs(spark, [(7, text)])
    out = C.chunk_tokens(docs, max_tokens=64, overlap=16).collect()
    seen = set()
    for r in out:
        seen.update(r["chunk"].split())
    assert seen == set(text.split())


def test_pack_greedy_bins_close_at_capacity(spark):
    # 5 docs of 3 tokens each, capacity 6 -> bins of 2 docs (ids in order)
    docs = spark.createDataFrame(
        [(i, "x y z", "s0") for i in range(5)],
        "doc_id long, text string, source string")
    out = {r["doc_id"]: r["bin"] for r in
           C.pack_greedy(docs, max_tokens=6, group_col="source").collect()}
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}


def test_pack_greedy_groups_pack_independently(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d", "s0"), (2, "a b c d", "s1")],
        "doc_id long, text string, source string")
    out = C.pack_greedy(docs, max_tokens=4, group_col="source").collect()
    assert {r["bin"] for r in out} == {0}


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 == 0 else "zh") for i in range(2000)],
        "doc_id long, text string, lang string")
    a = C.stratified_sample(docs, {"en": 0.5, "zh": 0.1},
                            strata_col="lang", key_col="doc_id")
    b = C.stratified_sample(docs, {"en": 0.5, "zh": 0.1},
                            strata_col="lang", key_col="doc_id")
    ra = sorted(r["doc_id"] for r in a.collect())
    assert ra == sorted(r["doc_id"] for r in b.collect())  # reproducible
    counts = {r["lang"]: r["n"] for r in
              a.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert 380 <= counts["en"] <= 620       # ~500 expected of 1000
    assert 40 <= counts["zh"] <= 160        # ~100 expected of 1000


def test_stratified_sample_default_rate_zero_drops_unlisted(spark):
    docs = spark.createDataFrame(
        [(i, "t", "fr") for i in range(100)],
        "doc_id long, text string, lang string")
    out = C.stratified_sample(docs, {"en": 1.0}, strata_col="lang",
                              key_col="doc_id")
    assert out.count() == 0


def test_decontaminate_flags_exact_overlap_only(spark):
    base = " ".join(f"w{i}" for i in range(8))
    train = _docs(spark, [
        (1, base + " tail tokens here"),       # contains the eval 8-gram
        (2, " ".join(f"u{i}" for i in range(12))),  # disjoint
    ])
    ev = _docs(spark, [(100, base)])
    out = {r["doc_id"]: r["n_shared"] for r in
           C.decontaminate(train, ev, n=8).collect()}
    assert 1 in out and out[1] >= 1
    assert 2 not in out


def test_repetition_stats_degenerate_vs_diverse(spark):
    from servihabitat_etl_spyke_spark.operators.text import repetition_stats
    docs = _docs(spark, [
        (1, "spam spam spam spam spam spam"),
        (2, "one two three four five six"),
    ])
    out = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert out[1]["distinct_ratio"] == 1 / 6
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["dup_3gram_frac"] == 0.75  # 4 trigrams, 1 distinct
    assert out[2]["distinct_ratio"] == 1.0
    assert out[2]["top_token_frac"] == 1 / 6
    assert out[2]["dup_3gram_frac"] == 0.0


def test_lm_score_common_tokens_score_higher(spark):
    from servihabitat_etl_spyke_spark.operators.text import (lm_score,
                                                             unigram_lm)
    docs = _docs(spark, [
        (1, "the the the the"),          # most frequent token
        (2, "the the rare1 rare2"),
    ])
    lm, _ = unigram_lm(docs)
    out = {r["doc_id"]: r for r in lm_score(docs, lm).collect()}
    assert out[1]["avg_logprob"] > out[2]["avg_logprob"]
    assert out[1]["n_scored"] == 4 and out[2]["n_scored"] == 4


def test_pii_redact_leaves_dates_and_ranges_alone(spark):
    docs = _docs(spark, [
        (1, "released 2020-01-01 updated 2021-12-31"),
        (2, "range 2010 - 2020 and 1.5 - 2.5"),
        (3, "datetime has 20-01-01 08:30 in it"),
    ])
    out = {r["doc_id"]: r for r in C.pii_redact(docs).collect()}
    for i in (1, 2, 3):
        assert out[i]["n_pii"] == 0, out[i]["redacted"]


def test_lm_score_keeps_all_oov_docs(spark):
    from servihabitat_etl_spyke_spark.operators.text import (lm_score,
                                                             unigram_lm)
    known = _docs(spark, [(1, "the cat sat"), (2, "the dog ran")])
    lm, _ = unigram_lm(known)
    gibberish = _docs(spark, [(9, "zxqv wvut qqqq")])
    out = lm_score(gibberish, lm).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 9
    # OOV floor is below every in-vocab score
    in_vocab = lm_score(known, lm).collect()
    assert out[0]["avg_logprob"] < min(r["avg_logprob"] for r in in_vocab)


def _run_stream(df, name, tmp_path):
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / name))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    return df.sparkSession.table(name)


def test_stateless_curation_ops_run_in_streaming(spark, sf_dir, tmp_path):
    """PII redaction, stratified sampling, chunking, and repetition stats
    are stateless projections, so the SAME operator functions run
    unchanged on a readStream DataFrame — the streaming-ingest curation
    path needs no reimplementation. (Packing and decontamination are
    stateful/two-pass by nature and stay batch or foreachBatch.)"""
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.text import repetition_stats
    batch = load_table(spark, sf_dir, "documents")
    stream = (spark.readStream.schema(batch.schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    assert stream.isStreaming

    got_red = _run_stream(C.pii_redact(stream), "cur_red", tmp_path)
    assert got_red.count() == batch.count()

    got_samp = _run_stream(
        C.stratified_sample(stream, {"en": 0.5}, strata_col="lang",
                            key_col="doc_id", default_rate=0.1),
        "cur_samp", tmp_path)
    batch_samp = C.stratified_sample(batch, {"en": 0.5}, strata_col="lang",
                                     key_col="doc_id", default_rate=0.1)
    assert got_samp.count() == batch_samp.count()  # same deterministic rows

    got_chunk = _run_stream(C.chunk_tokens(stream, 64, 16),
                            "cur_chunk", tmp_path)
    assert got_chunk.count() == C.chunk_tokens(batch, 64, 16).count()

    got_rep = _run_stream(repetition_stats(stream), "cur_rep", tmp_path)
    assert got_rep.count() == batch.count()


def test_passage_dedup_first_occurrence_wins(spark):
    a = " ".join(f"a{i}" for i in range(64))
    b = " ".join(f"b{i}" for i in range(64))
    c = " ".join(f"c{i}" for i in range(64))
    docs = _docs(spark, [(1, a + " " + b), (2, b + " " + c)])
    out = C.passage_dedup(docs, max_tokens=64).collect()
    kept = {(r["doc_id"], r["chunk_idx"]) for r in out}
    # doc 2's first window repeats passage b from doc 1 -> dropped
    assert kept == {(1, 0), (1, 1), (2, 1)}
    assert all(r["n_tokens"] == 64 for r in out)


def test_passage_dedup_short_doc_single_window(spark):
    docs = _docs(spark, [(1, "tiny doc"), (2, "tiny doc")])
    out = C.passage_dedup(docs, max_tokens=64).collect()
    assert [(r["doc_id"], r["chunk_idx"]) for r in out] == [(1, 0)]


def test_boilerplate_ngrams_finds_planted_footer(spark):
    footer = "all rights reserved"
    docs = _docs(spark, [(i, f"unique{i} body text then {footer}")
                         for i in range(50)] + [(99, "totally different words")])
    out = C.boilerplate_ngrams(docs, n=3, min_doc_frac=0.5, limit=10).collect()
    shingles = {r["shingle"] for r in out}
    assert footer in shingles
    assert all(r["doc_freq"] >= 26 for r in out)        # ceil(51 * 0.5)
    for r in out:
        assert abs(r["doc_frac"] - r["doc_freq"] / 51.0) < 1e-12


def test_hashed_classifier_matches_manual(spark):
    import hashlib

    from servihabitat_etl_spyke_spark.operators import text as TX

    cases = [(1, "alpha beta gamma delta"), (2, "x"), (3, "zq zq zq")]
    docs = _docs(spark, cases)
    out = {r["doc_id"]: r for r in TX.hashed_classifier_score(docs).collect()}

    def w(tok: str) -> int:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        return (h % 4096) % 1997 - 998

    for did, text in cases:
        toks = text.split(" ")
        ws = sum(w(t) for t in toks)
        r = out[did]
        assert (r["weight_sum"], r["n_tokens"]) == (ws, len(toks))
        assert r["keep"] == (ws > 0)
        assert r["logit"] == ws / (len(toks) * 998.0)


def test_normalize_urls_edge_cases(spark):
    rows = [
        (1, "https://WWW.Example.COM/a/b/?utm_source=x&id=3&fbclid=z#frag"),
        (2, "http://site.org/path?utm_campaign=a&utm_medium=b"),
        (3, "https://www.w.co/"),
        (4, "http://X.Y/p?ref=abc&keep=1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r for r in C.normalize_urls(df).collect()}
    assert got[1]["url_norm"] == "https://example.com/a/b?id=3"
    assert got[1]["domain"] == "example.com"
    # every param tracking -> no '?' at all
    assert got[2]["url_norm"] == "http://site.org/path"
    # bare root: trailing slash trimmed, www dropped
    assert got[3]["url_norm"] == "https://w.co"
    # ref stripped, kept param preserved, host lowered
    assert got[4]["url_norm"] == "http://x.y/p?keep=1"


def test_domain_filter_and_cap(spark):
    rows = [(i, f"d{i % 3}.com") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    kept = C.domain_filter(df, ["d0.com"]).collect()
    assert all(r["domain"] != "d0.com" for r in kept) and len(kept) == 20
    # DataFrame blocklist (broadcast anti-join path) agrees
    bl = spark.createDataFrame([("d0.com",)], "domain string")
    assert len(C.domain_filter(df, bl).collect()) == 20
    capped = C.per_domain_cap(df, cap=4).collect()
    assert len(capped) == 12
    per = {}
    for r in capped:
        per.setdefault(r["domain"], []).append(r["doc_id"])
    # lowest ids win deterministically
    assert sorted(per["d1.com"]) == [1, 4, 7, 10]


def test_temperature_mix_upweights_small_strata(spark):
    # 900 'big' rows vs 100 'small': natural sampling keeps 9:1, sqrt
    # temperature keeps 3:1 in expectation — verify both the totals and
    # the direction of the rebalance
    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    kept = C.temperature_mix(df, target_rows=200, strata_col="s",
                             key_col="doc_id", alpha=0.5).collect()
    n_big = sum(1 for r in kept if r["s"] == "big")
    n_small = sum(1 for r in kept if r["s"] == "small")
    # expected: mass ratio sqrt(900):sqrt(100) = 3:1 -> 150 big, 50 small
    assert 100 <= n_big <= 200, n_big
    assert 25 <= n_small <= 75, n_small
    # the rebalance really happened: small stratum keeps a ~4.5x higher
    # RATE than big (sqrt(900)/900 vs sqrt(100)/100 = 1:3 vs 1:10)
    assert n_small / 100 > n_big / 900


def test_temperature_mix_deterministic_and_alpha1_is_uniform(spark):
    rows = [(i, f"s{i % 4}") for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    a = {r["doc_id"] for r in C.temperature_mix(
        df, 100, "s", "doc_id", alpha=0.5).collect()}
    b = {r["doc_id"] for r in C.temperature_mix(
        df, 100, "s", "doc_id", alpha=0.5).collect()}
    assert a == b  # same rows every run — hash, not rand()
    # alpha=1: rate is target/total for EVERY stratum (natural mix)
    u = C.temperature_mix(df, 400, "s", "doc_id", alpha=1.0)
    per = {r[0]: r[1] for r in
           u.groupBy("s").count().collect()}
    for s, n in per.items():
        assert 60 <= n <= 140, (s, n)  # 100 expected per stratum


def test_temperature_mix_caps_rate_at_one(spark):
    # a tiny stratum whose fair share exceeds its population must keep
    # ALL its rows (rate clamps to 1), never oversample
    rows = [(i, "big") for i in range(990)] + [
        (1000 + i, "tiny") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, s string")
    kept = C.temperature_mix(df, target_rows=500, strata_col="s",
                             key_col="doc_id", alpha=0.5)
    n_tiny = kept.filter(F.col("s") == "tiny").count()
    assert n_tiny == 10


def test_bpe_pair_counts_manual(spark):
    from servihabitat_etl_spyke_spark.operators import text as TX
    rows = [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["pair"], r["n_pairs"]) for r in
           TX.pair_counts(df, top=10).collect()]
    # doc1 pairs: 'a b','b a','a b','b c'; doc2: 'a b'; doc3/4: none
    assert got == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_phrase_search_counts_occurrences(spark):
    from servihabitat_etl_spyke_spark.operators import text as TX
    rows = [
        (1, "a b c a b c"),   # 'a b c' twice
        (2, "a b x c"),       # broken phrase -> no match
        (3, "c a b c"),       # once
        (4, "a a b c"),       # once (offset start)
        (5, "b c a"),         # wrapped, not consecutive full phrase
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_matches"] for r in
           TX.phrase_search(df, "a b c").collect()}
    assert got == {1: 2, 3: 1, 4: 1}
    # single-term phrase degenerates to term occurrence counts
    one = {r["doc_id"]: r["n_matches"] for r in
           TX.phrase_search(df, "a").collect()}
    assert one == {1: 2, 2: 1, 3: 1, 4: 2, 5: 1}


def test_inverted_index_positions_sorted(spark):
    from servihabitat_etl_spyke_spark.operators import text as TX
    df = spark.createDataFrame([(1, "z y z y z")], "doc_id long, text string")
    idx = {r["term"]: r["positions"] for r in
           TX.inverted_index(df).collect()}
    assert idx == {"z": [0, 2, 4], "y": [1, 3]}


def test_bigram_lm_penalizes_scrambled_order(spark):
    from servihabitat_etl_spyke_spark.operators.text import (
        bigram_lm, bigram_score, lm_score, unigram_lm)
    # train corpus with strong bigram structure
    train_rows = [(i, "the cat sat on the mat") for i in range(10)]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    bigrams, backoff = bigram_lm(train)
    probe = spark.createDataFrame(
        [(100, "the cat sat on the mat"),      # fluent
         (101, "mat the on sat cat the"),      # same bag, scrambled
         (102, "zz qq ww ee rr tt")],          # full OOV -> floor
        "doc_id long, text string")
    got = {r["doc_id"]: r["avg_logprob"] for r in
           bigram_score(probe, bigrams, backoff).collect()}
    assert got[100] > got[101] > got[102]
    # the unigram proxy CANNOT separate fluent from scrambled (same bag)
    uni, _ = unigram_lm(train)
    ug = {r["doc_id"]: r["avg_logprob"] for r in
          lm_score(probe, uni).collect()}
    assert abs(ug[100] - ug[101]) < 1e-9
    # scrambled doc hits the backoff path, not the floor
    assert got[101] > -30.0


def test_shard_assignment_layout_properties(spark):
    rows = [(i, (i * 7) % 13 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = C.shard_assignment(df, n_shards=4, key_col="doc_id",
                             token_col="n_tokens").collect()
    assert len(out) == 200                      # nothing dropped
    by_shard = {}
    for r in out:
        assert 0 <= r["shard_id"] < 4
        by_shard.setdefault(r["shard_id"], []).append(r)
    # every shard populated, positions contiguous from 1, prefix sums exact
    assert set(by_shard) == {0, 1, 2, 3}
    for rows_ in by_shard.values():
        rows_.sort(key=lambda r: r["shard_pos"])
        assert [r["shard_pos"] for r in rows_] == list(
            range(1, len(rows_) + 1))
        run = 0
        for r in rows_:
            run += r["n_tokens"]
            assert r["cum_tokens"] == run
    # deterministic: identical layout on a second run
    again = C.shard_assignment(df, n_shards=4, key_col="doc_id",
                               token_col="n_tokens").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_bpe_train_and_encode_classic_example(spark):
    from servihabitat_etl_spyke_spark.operators.text import (
        apply_bpe, bpe_encode, train_bpe)
    corpus = ["low low low low low lower lower newest newest newest "
              "newest newest newest widest widest widest"]
    merges = train_bpe(corpus, n_merges=10)
    # 'newest' (freq 6) drives the first merges: e+s, es+t, est+</w>
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", "</w>")
    # after enough merges the frequent words become single symbols
    assert bpe_encode("newest", merges) == ["newest</w>"]
    assert bpe_encode("low", merges) == ["low</w>"]
    # unseen word falls back to smaller pieces, never fails
    pieces = bpe_encode("lowest", merges)
    assert "".join(pieces) == "lowest</w>" and len(pieces) >= 2
    # distributed application agrees with local encoding
    df = spark.createDataFrame(
        [(1, "low lower newest"), (2, "")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in apply_bpe(df, merges).collect()}
    local = sum((bpe_encode(w, merges)
                 for w in "low lower newest".split()), [])
    assert got[1]["n_subwords"] == len(local)
    assert got[2]["n_subwords"] == 0
    # determinism: same digest on a re-run
    again = {r["doc_id"]: r["token_digest"]
             for r in apply_bpe(df, merges).collect()}
    assert again[1] == got[1]["token_digest"]


def test_grouped_split_no_group_straddles_splits(spark):
    rows = [(i, f"site{i % 37}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = C.grouped_split(df, "g", val_bp=2000, test_bp=2000).collect()
    per_group = {}
    for r in out:
        per_group.setdefault(r["g"], set()).add(r["split"])
    # leakage-safety: every group maps to exactly one split
    assert all(len(s) == 1 for s in per_group.values())
    counts = {}
    for r in out:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    # 20/20/60 in expectation over 37 groups — loose bounds
    assert counts["train"] > counts.get("val", 0)
    assert set(counts) <= {"train", "val", "test"}
    # deterministic re-run
    again = C.grouped_split(df, "g", val_bp=2000, test_bp=2000).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_dsir_weights_favor_target_like_docs(spark):
    # target domain: docs about cooking; raw corpus mixes cooking docs
    # with code-flavored docs. Cooking docs must score higher.
    cooking = [
        "stir the sauce and simmer the onions with butter and garlic",
        "bake the bread then season the roast with thyme and pepper",
        "whisk the eggs and fold the flour into the batter gently",
    ]
    code = [
        "def main args return parse the input tokens and exit",
        "class node left right value insert delete traverse tree",
    ]
    raw_rows = [(i, t) for i, t in enumerate(cooking + code)]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(cooking)],
        "doc_id long, text string")
    w = {r["doc_id"]: r["logw_nano"]
         for r in C.dsir_weights(raw, target, buckets=256).collect()}
    assert len(w) == 5
    worst_cooking = min(w[i] for i in range(3))
    best_code = max(w[i] for i in (3, 4))
    assert worst_cooking > best_code
    # deterministic re-run
    again = {r["doc_id"]: r["logw_nano"]
             for r in C.dsir_weights(raw, target, buckets=256).collect()}
    assert again == w


def test_dsir_resample_draws_exactly_k_reproducibly(spark):
    rows = [(i, f"word{i % 7} common text filler number {i}")
            for i in range(60)]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    target = raw.filter("doc_id % 7 = 0")
    w = C.dsir_weights(raw, target, buckets=128)
    got = C.dsir_resample(w, n_keep=10, seed=7).collect()
    assert len(got) == 10
    # keys strictly ordered in the output, ids unique
    keys = [r["key_nano"] for r in got]
    assert keys == sorted(keys, reverse=True)
    assert len({r["doc_id"] for r in got}) == 10
    again = C.dsir_resample(w, n_keep=10, seed=7).collect()
    assert [r["doc_id"] for r in again] == [r["doc_id"] for r in got]
    # a different seed draws a different sample (overwhelmingly likely)
    other = C.dsir_resample(w, n_keep=10, seed=8).collect()
    assert [r["doc_id"] for r in other] != [r["doc_id"] for r in got]


def test_sample_exact_k_counts_and_determinism(spark):
    rows = [(i, f"s{i % 3}") for i in range(200)] + [(900, "tiny")]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = C.sample_exact_k(df, k=10, strata_col="g",
                           key_col="doc_id").collect()
    per = {}
    for r in out:
        per.setdefault(r["g"], []).append(r["sample_rank"])
    assert all(sorted(v) == list(range(1, 11)) for g, v in per.items()
               if g != "tiny")
    # stratum smaller than k keeps everything
    assert per["tiny"] == [1]
    again = C.sample_exact_k(df, k=10, strata_col="g",
                             key_col="doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_token_budget_mix_respects_budget(spark):
    rows = [(i, f"s{i % 2}", 40) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, g string, ntok long")
    out = C.token_budget_mix(df, budget_per_stratum=200, strata_col="g",
                             key_col="doc_id", tokens_col="ntok").collect()
    per = {}
    for r in out:
        per.setdefault(r["g"], []).append(r)
    for g, kept in per.items():
        # 40-token docs against a 200 budget: exactly 5 kept per stratum
        assert len(kept) == 5
        assert all(r["tokens_before"] < 200 for r in kept)
    # an over-budget single doc still enters (first doc always fits)
    one = spark.createDataFrame([(1, "a", 10_000)],
                                "doc_id long, g string, ntok long")
    assert C.token_budget_mix(one, 200, "g", "doc_id", "ntok").count() == 1


def test_gopher_filter_rules_fire_individually(spark):
    from servihabitat_etl_spyke_spark.operators.text import gopher_filter
    rows = [
        (1, "the quick brown fox jumps over a lazy dog near the old barn "
            "and it runs fast to the deep green forest tonight"),   # keeps
        (2, "short text only"),                                     # r_len
        (3, "the the the the the the the the the the the the the the "
            "the the the the the the the the"),                     # top_token
        (4, " ".join(["alpha beta gamma"] * 12)),                   # dup_3gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           gopher_filter(df, min_tokens=20, min_stopword_count=2,
                         max_top_token_frac=0.3,
                         max_dup_3gram_frac=0.3).collect()}
    assert out[1]["keep"]
    assert not out[2]["r_len"] and not out[2]["keep"]
    assert not out[3]["r_top_token"] and not out[3]["keep"]
    assert not out[4]["r_dup_3gram"] and not out[4]["keep"]


def test_ctfidf_surfaces_group_characteristic_terms(spark):
    from servihabitat_etl_spyke_spark.operators.text import ctfidf_terms
    rows = (
        [(i, "cook", "recipe sauce onion butter stir pan") for i in range(8)]
        + [(100 + i, "code", "compile parse token stack heap loop")
           for i in range(8)]
        + [(200 + i, "cook", "shared words appear here too") for i in range(2)]
        + [(300 + i, "code", "shared words appear here too") for i in range(2)]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    out = ctfidf_terms(df.withColumnRenamed("src", "source"),
                       group_col="source", top=3).collect()
    top = {}
    for r in out:
        top.setdefault(r["source"], []).append(r["term"])
    # the shared filler never outranks the group-exclusive vocabulary
    assert set(top["cook"]) <= {"recipe", "sauce", "onion", "butter",
                                "stir", "pan"}
    assert set(top["code"]) <= {"compile", "parse", "token", "stack",
                                "heap", "loop"}


def test_weighted_sample_prefers_heavy_rows(spark):
    rows = [(i, 1) for i in range(200)] + [(900, 100000)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    for seed in (1, 2, 3):
        got = C.weighted_sample_k(df, k=20, weight_col="w",
                                  key_col="doc_id", seed=seed).collect()
        assert len(got) == 20
        # the overwhelming-weight row is effectively always drawn
        assert any(r["doc_id"] == 900 for r in got)
    # deterministic for a fixed seed; zero/negative weights excluded
    a = C.weighted_sample_k(df, 20, "w", "doc_id", seed=5).collect()
    b = C.weighted_sample_k(df, 20, "w", "doc_id", seed=5).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    zw = spark.createDataFrame([(1, 0), (2, 3)], "doc_id long, w long")
    kept = C.weighted_sample_k(zw, 5, "w", "doc_id").collect()
    assert [r["doc_id"] for r in kept] == [2]


def test_mad_outlier_filter_flags_planted_outlier(spark):
    """Tight cluster around 100 plus one wild value: only the wild value
    falls outside 3 MADs; mean±3σ would have been dragged toward it."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        mad_outlier_filter)
    rows = [(i, v) for i, v in enumerate([98, 99, 100, 100, 101, 102, 5000])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = {r["doc_id"]: r["keep"] for r in
           mad_outlier_filter(df, "n_chars").collect()}
    assert out[6] is False
    assert all(out[i] for i in range(6))


def test_decontaminate_bloom_equals_broadcast_plan(spark, sf_dir):
    """Bloom pre-filtering has no false negatives and the verification
    join removes false positives — the two plans must agree row for row."""
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.catalog import load_table
    from servihabitat_etl_spyke_spark.operators.curation import (
        decontaminate, decontaminate_bloom)
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    exact = sorted(map(tuple, decontaminate(train, ev, n=4).collect()))
    bloom = sorted(map(tuple, decontaminate_bloom(train, ev, n=4).collect()))
    assert bloom == exact and len(exact) > 0


def test_mad_outlier_median_is_interpolated_and_plan_has_no_percentile(spark):
    """_hist_median must implement percentile_cont exactly: for the
    even-count column [1,2,3,4] the median is 2.5, so dev_e4 of value 1
    is 15000 — a discrete (lower/nearest) median would give 10000. And
    the plan must contain NO Percentile aggregate (the single-reducer
    value buffer the histogram path exists to avoid)."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        mad_outlier_filter)
    df = spark.createDataFrame([(i, v) for i, v in enumerate([1, 2, 3, 4])],
                               "doc_id long, n_chars long")
    out = mad_outlier_filter(df, "n_chars")
    devs = {r["doc_id"]: r["dev_e4"] for r in out.collect()}
    assert devs == {0: 15000, 1: 5000, 2: 5000, 3: 15000}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan.lower()


def test_gate_funnel_first_fail_attribution_and_null_fails(spark):
    """A doc failing gates 0 AND 2 is charged ONLY to gate 0; a NULL gate
    value counts as a fail; totals telescope (n_out(i) == n_in(i+1)),
    and a gate that kills nothing still reports a 0 row."""
    from pyspark.sql import functions as F
    from servihabitat_etl_spyke_spark.operators.curation import gate_funnel
    rows = [
        (1, 10, 5),    # fails g0 (a<20) and g2 (c<10) -> charged to g0
        (2, 30, 5),    # fails g2 only
        (3, 30, 50),   # passes all
        (4, None, 50), # NULL a -> g0 fail
        (5, 25, 50),   # passes all
    ]
    df = spark.createDataFrame(rows, "doc_id long, a long, c long")
    gates = [("a_ok", F.col("a") >= 20),
             ("b_ok", F.lit(True)),
             ("c_ok", F.col("c") >= 10)]
    got = [tuple(r) for r in gate_funnel(df, gates).collect()]
    assert got == [(0, "a_ok", 5, 2, 3),
                   (1, "b_ok", 3, 0, 3),
                   (2, "c_ok", 3, 1, 2)]


def test_mad_outlier_engine_fallback_matches_driver_path(spark):
    """Forcing the histogram over max_hist_rows must switch to the
    engine-side _median_of_counts path and produce the SAME rows as the
    driver-histogram path — two physical strategies, one answer (and the
    driver never materializes more than the bound)."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        mad_outlier_filter)
    rows = [(i, v) for i, v in
            enumerate([5, 7, 9, 11, 13, 15, 17, 19, 400, 2])]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    fast = sorted(map(tuple, mad_outlier_filter(df, "n_chars").collect()))
    slow = sorted(map(tuple, mad_outlier_filter(
        df, "n_chars", max_hist_rows=3).collect()))
    assert fast == slow and len(fast) == 10


def test_url_normalize_param_boundary(spark):
    """'href=...' must survive tracking-param stripping: the regex is
    anchored at a param boundary, so only whole params named
    utm_*/gclid/fbclid/ref are removed."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        normalize_urls)
    df = spark.createDataFrame(
        [(1, "https://a.com/p?href=https://b.com&id=2&ref=x"),
         (2, "http://www.b.com/q?utm_a=1&utm_b=2&keep=3")],
        "doc_id long, url string")
    got = {r.doc_id: r.url_norm for r in normalize_urls(df).collect()}
    assert got[1] == "https://a.com/p?href=https://b.com&id=2"
    assert got[2] == "http://b.com/q?keep=3"


def test_sample_exact_k_string_keys(spark):
    """String keys must still get a hash-permutation sample, not plain
    key order (the old cast('long') term was NULL for every string key,
    degenerating selection to the first k ids)."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        sample_exact_k)
    rows = [(f"doc-{i:05d}", "en") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    got = sorted(r.doc_id for r in
                 sample_exact_k(df, k=20, strata_col="lang",
                                key_col="doc_id").collect())
    assert len(got) == 20
    # a degenerate key-order "sample" would be exactly the first 20 ids
    assert got != sorted(r[0] for r in rows)[:20]


def test_dsir_weights_string_ids_and_totals(spark):
    """dsir_weights runs end-to-end (totals now derive from the bucket
    aggregate; the feature stream materializes once)."""
    from servihabitat_etl_spyke_spark.operators.curation import dsir_weights
    docs = spark.createDataFrame(
        [(i, "common words here " + ("wiki text " * (i % 3)))
         for i in range(30)], "doc_id long, text string")
    target = docs.filter(F.col("doc_id") % 3 == 1)
    out = dsir_weights(docs, target, buckets=64)
    assert out.count() == 30
    assert set(out.columns) == {"doc_id", "n_grams", "logw_nano"}


def test_domain_filter_keeps_null_domains_both_paths(spark):
    """A NULL domain is not blocklisted: the literal-list path must keep
    it like the anti-join path does (~isin alone evaluates NULL ->
    dropped)."""
    from servihabitat_etl_spyke_spark.operators.curation import (
        domain_filter)
    df = spark.createDataFrame(
        [(1, "bad.com"), (2, "ok.com"), (3, None)],
        "doc_id long, domain string")
    lit = sorted(r.doc_id for r in
                 domain_filter(df, ["bad.com"]).collect())
    bl = spark.createDataFrame([("bad.com",)], ["domain"])
    joined = sorted(r.doc_id for r in domain_filter(df, bl).collect())
    assert lit == joined == [2, 3]
