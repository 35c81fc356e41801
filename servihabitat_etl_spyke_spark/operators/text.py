"""Text-analysis operators for training-data pipelines (north-star
extension): token counting, quality scoring, language ID, fingerprinting.

Everything is built-in-function expression trees (codegen'd, no UDFs) so the
hot path scans 100 TB without touching Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as W

from ..catalog import spread

#: BPE-ish pre-tokenizer: word pieces OR single non-space punctuation —
#: the standard GPT-2-style pre-tokenization shape, minus unicode classes.
BPE_ISH_RE = r"\w+|[^\w\s]"

#: tiny per-language marker lexicons (n-gram heuristic; deterministic)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["的", "是", "了", "在", "我"],
}

STOPWORDS = ["the", "a", "of", "and", "is", "in", "to", "it"]


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish regex token count (word pieces + punctuation marks)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_RE), 0))


def _count_in_lower(toks: Column, words: list[str]) -> Column:
    """Case-insensitive marker/stopword count: tokens lowercase before
    the membership test — an ALL-CAPS or title-case English doc contains
    zero literal 'the'/'and' tokens, which deflated stopword counts and
    marker scores (standard Gopher/langid implementations lowercase
    first). The lexicons themselves are lowercase."""
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))


def _top_token_count(toks: Column) -> Column:
    """Most-frequent-token COUNT via one linear pass over the sorted
    token array (max run length in sorted order == max multiplicity) —
    the O(n log n) form; the naive transform(distinct, filter(toks))
    scan is O(n_tokens * n_distinct) per row and stalls single tasks on
    max-length docs."""
    def _run(acc, x):
        return F.when(acc["prev"].eqNullSafe(x),
                      acc["run"] + 1).otherwise(F.lit(1))

    return F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"), _run(acc, x).alias("run"),
            F.greatest(acc["best"], _run(acc, x)).alias("best")),
        lambda acc: acc["best"])


def adjacent_pairs(toks) -> Column:
    """Row-local adjacent-token pair structs (w1, w2): two slices zipped
    — no positional self-join, no explode-join-explode. Docs with < 2
    tokens yield an EMPTY array (a raw slice with non-positive length
    would throw), so explode naturally drops them. Shared by the bigram
    LM build, bigram scoring, BPE pair counting, and collocations — one
    definition, one guard."""
    n = F.size(toks)
    return F.when(n < 2, F.array().cast(
        "array<struct<w1:string,w2:string>>")).otherwise(
        F.zip_with(F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
                   lambda a, b: F.struct(a.alias("w1"), b.alias("w2"))))


def quality_features(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Per-doc quality signals: lengths, token stats, stopword ratio,
    punctuation ratio, all-caps ratio — the standard cheap filters applied
    before expensive model-based scoring.

    Tokens are bound in their own projection — six inline references to a
    split() expression would tokenize six times per row."""
    text = F.col(text_col)
    toks = F.col("_toks")
    n_tok = F.size(toks)
    return spread(docs, id_col).select(
        F.col(id_col), text, tokens(text).alias("_toks")).select(
        F.col(id_col),
        F.length(text).alias("n_chars"),
        n_tok.alias("n_tokens"),
        # floor-form, not F.round: 4-decimal midpoints ARE reachable for
        # integer char/token ratios (829/800 = 1.03625 -> engines round
        # opposite ways); the 6-decimal ratios below stay round() — their
        # midpoint shortest-reprs are statistically unreachable
        (F.floor(F.length(text) / n_tok * 10000 + F.lit(0.5)) / 10000)
        .alias("chars_per_token"),
        F.round(_count_in_lower(toks, STOPWORDS) / n_tok, 6)
        .alias("stopword_ratio"),
        # every non-word match is exactly one char, so the match count
        # equals the chars removed by replacing them — same value as
        # len(regexp_extract_all(...)) without materializing the array.
        # [\p{L}\p{N}_] instead of \w: Java \w is ASCII-only, which
        # counted every CJK/accented LETTER as punctuation and scored
        # non-English docs ~100% punct (wholesale-dropped by any
        # punct-ratio gate); \p{L}\p{N} is Unicode-aware in both Java
        # and the oracle's RE2, and identical on ASCII text.
        # Zero-length text would divide by zero (a job-killing error
        # under ANSI mode) — an empty doc has punct ratio 0 by definition
        F.when(F.length(text) > 0,
               F.round((F.length(text)
                        - F.length(F.regexp_replace(
                            text, r"[^\p{L}\p{N}_\s]", "")))
                       / F.length(text), 6))
        .otherwise(F.lit(0.0)).alias("punct_ratio"),
        # all-caps requires at least one CASED letter: a caseless token
        # ('2021', '3.14', '%') equals its own uppercase, which scored
        # numeric/tabular docs as 100% shouting; t != lower(t) holds
        # exactly when some cased uppercase letter is present
        F.round(F.size(F.filter(toks, lambda t: (t == F.upper(t))
                                & (t != F.lower(t))))
                / n_tok, 6).alias("uppercase_token_ratio"),
    )


def language_id(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: count marker hits per language over the
    token set (case-insensitive — title-case and ALL-CAPS text must still
    score); argmax wins with a fixed priority order on ties; all-zero ->
    'und'. (The heuristic shape of fastText-style n-gram ID, expressible
    as a pure expression tree.)

    Space-free scripts (zh) cannot match whole whitespace tokens — an
    unsegmented sentence is ONE token — so their markers count by
    SUBSTRING occurrence (each marker is a single character:
    occurrences == chars removed by deleting it).

    Tokens and per-language scores are bound in their own projections:
    inlining the split into every score and the score into every
    when-chain branch multiplies the tokenize subtree ~2^|langs| times
    in one projection (the file-wide bind-don't-inline discipline)."""
    docs = spread(docs, id_col)
    langs = sorted(LANG_MARKERS)              # deterministic tie order

    def score_for(lang: str) -> Column:
        words = LANG_MARKERS[lang]
        if lang == "zh":
            text = F.col(text_col)
            return sum((F.length(text)
                        - F.length(F.replace(text, F.lit(ch))))
                       for ch in words).cast("int")
        return _count_in_lower(F.col("_toks"), words)

    scored = (docs
              .select(F.col(id_col), F.col(text_col),
                      tokens(F.col(text_col)).alias("_toks"))
              .select(F.col(id_col),
                      *[score_for(lang).alias(f"score_{lang}")
                        for lang in langs]))
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in langs:    # strict > keeps earlier winner on tie; scores
        s = F.col(f"score_{lang}")            # are cheap column refs here
        cond = s > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
    return scored.select(F.col(id_col), best.alias("lang_pred"),
                         *[f"score_{lang}" for lang in langs])


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the whitespace-normalized lowercase
    text, plus a 32-bit integer bucket (for partitioned exact-dup joins)."""
    docs = spread(docs, id_col)
    # trim AFTER collapsing runs: without it a doc differing only by a
    # trailing newline (ubiquitous in scraped text) keeps a leading/
    # trailing space in the normalized form and escapes exact-dup
    # detection (normalize_text already trims; same rule here)
    normalized = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    digest = F.md5(normalized)
    return docs.select(
        F.col(id_col),
        digest.alias("fingerprint"),
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long").alias("bucket32"),
    )


# -- repetition stats (Gopher/C4-style quality rules) -------------------------


def repetition_stats(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Within-document repetition signals used by Gopher/C4-style quality
    filters: distinct-token ratio, most-frequent-token share, and
    duplicate-3-gram fraction. High repetition marks boilerplate and
    degenerate generations.

    Entirely row-local array algebra (no explode, no shuffle): the
    most-frequent-token share is the shared linear sorted-run-length
    fold (:func:`_top_token_count` — the naive per-distinct nested scan
    is O(distinct * n) per row and stalls single tasks on max-length
    docs); the 3-gram list keeps duplicates (the dup fraction needs the
    multiset). All ratios are integer/integer divisions, so any engine
    computes bit-identical doubles.

    Tokens / 3-gram list are each bound in their own projection: an
    inline split() captured in a lambda re-evaluates PER ELEMENT (see
    dedup.shingles_from_tokens), and a non-cheap expression referenced
    twice inline is computed twice."""
    toks, g3 = F.col("_toks"), F.col("_g3")
    return (spread(docs, id_col)
            .select(F.col(id_col),
                    F.split(F.col(text_col), " ").alias("_toks"))
            .select(F.col(id_col), "_toks",
                    F.transform(
                        F.sequence(F.lit(1),
                                   F.greatest(F.size(toks) - 2, F.lit(1))),
                        lambda i: F.array_join(F.slice(toks, i, 3), " "))
                    .alias("_g3"))
            .select(
                F.col(id_col),
                F.size(toks).alias("n_tokens"),
                (F.size(F.array_distinct(toks)) / F.size(toks))
                .alias("distinct_ratio"),
                (_top_token_count(toks) / F.size(toks))
                .alias("top_token_frac"),
                (1 - F.size(F.array_distinct(g3)) / F.size(g3))
                .alias("dup_3gram_frac"),
            ))


# -- unigram LM scoring -------------------------------------------------------


def unigram_lm(docs: DataFrame, text_col: str = "text"
               ) -> tuple[DataFrame, float | None]:
    """Corpus unigram model ``(lm, min_p)``: ``lm`` is (tok, p) with
    p = count / corpus total, ``min_p`` the rarest in-vocab probability
    (``None`` for an empty corpus).

    One explode + one token-keyed aggregation (a single shuffle whose
    width is the vocabulary, not the corpus). The scalar total rides
    the SAME action that materializes the persisted counts (r12, guide
    §1.2/§2.4): it used to be a separate 1-row aggregation glued back
    with a broadcast join, which cost every consumer plan an extra
    exchange and re-ran the total subplan per consumer — a corpus
    total is one long, it belongs on the driver, not in the plan.

    ``min_p`` is computed in that same action, so a scorer that needs
    the OOV floor (:func:`lm_score`'s default) skips its probe action
    entirely when handed it.

    Cache note: the returned model DataFrame PINS a persisted
    vocabulary-sized intermediate for the session (every scoring
    pass re-reads it); release it with spark.catalog.clearCache()
    or a df.unpersist() on the returned frame when done.
    """
    counts = (docs
              .select(F.explode(F.split(F.col(text_col), " ")).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("_c"))
              .persist())
    # ONE action: materializes the cache AND reduces the scalar stats
    row = counts.agg(F.sum("_c").alias("_t"),
                     F.min("_c").alias("_m")).first()
    total, min_c = row["_t"], row["_m"]
    # long / long-literal division — bit-identical to the previous
    # broadcast-join form's column/column division
    lm = counts.select(
        "tok", (F.col("_c") / F.lit(total).cast("long")).alias("p"))
    # double/double division, matching what min() over the lm's p
    # column (Spark long->double cast then divide) would return
    min_p = (float(min_c) / float(total)) \
        if (min_c is not None and total) else None
    return lm, min_p


def lm_score(docs: DataFrame, lm: DataFrame, id_col: str = "doc_id",
             text_col: str = "text",
             oov_logprob: float | None = None,
             min_p: float | None = None) -> DataFrame:
    """Mean token log-probability per doc under a unigram model — the
    cheap perplexity proxy for quality filtering (low = gibberish or
    out-of-domain).

    Out-of-vocabulary tokens score ``oov_logprob`` (default: ln of half
    the rarest in-vocab probability) via a LEFT join — an inner join
    would silently DROP docs whose tokens are all OOV, i.e. exactly the
    gibberish a perplexity filter exists to catch.

    The LM broadcasts (a vocabulary is small by definition); docs explode
    once, join map-side, and aggregate per doc id — the only shuffle is
    the per-doc aggregation. The standard two-pass shape: build the model
    once, score any stream against it.

    Numerics: each token's ln(p) is quantized to integer NANO-units before
    summing — integer sums are fold-order-free and exact, so the result is
    bit-identical in any engine / any partitioning (a raw double avg(ln p)
    measured within 1.6e-10 of a rounding edge on the test corpus, under
    the ~1e-8 cross-engine fold-order noise). The 1e-9 quantization error
    is orders below any quality-filter threshold."""
    import math
    if oov_logprob is None:
        # ``min_p`` precomputed by the model build (e.g. the second
        # value unigram_lm returns from its materialization action)
        # skips this probe action entirely (r12, guide §1.2)
        if min_p is None:
            min_p = lm.agg(F.min("p")).first()[0]
        oov_logprob = math.log(min_p * 0.5) if min_p else -30.0
    oov_nano = int(math.floor(oov_logprob * 1000000000 + 0.5))
    nano = F.floor(F.log("p") * 1000000000 + F.lit(0.5)).cast("long")
    # NULL text coalesces to '' (one OOV-scored empty token): explode of
    # split(NULL) emits no rows, which would silently DROP the doc —
    # contradicting the LEFT-join promise above that degenerate docs are
    # never dropped (they are exactly what a perplexity filter catches)
    toked = (spread(docs, id_col)
             .select(F.col(id_col),
                     F.explode(F.split(
                         F.coalesce(F.col(text_col), F.lit("")), " "))
                     .alias("tok")))
    return (toked.join(F.broadcast(lm.select("tok", nano.alias("_nano"))),
                       "tok", "left")
            .groupBy(id_col)
            .agg(((F.sum(F.coalesce(F.col("_nano"), F.lit(oov_nano)))
                   / F.count("*")) / 1000000000)
                 .alias("avg_logprob"),
                 F.count("*").alias("n_scored")))


def bigram_lm(train: DataFrame, alpha: float = 0.4,
              text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Bigram language model with stupid backoff (Brants et al. 2007 —
    the distributed-LM recipe built for exactly this kind of map-reduce
    shape). Returns two model tables with PRE-QUANTIZED nano log-probs:

    - bigram table (w1, w2, lnp_nano):   ln(c(w1,w2) / c(w1))
    - backoff table (w, lnp_nano):       ln(alpha * c(w) / total)

    Quantizing at model-build time means scoring is pure integer
    arithmetic — fold-order-free, bit-identical in any engine.

    Shape: pairs explode once -> (w1,w2) count; unigram counts ride the
    same exploded pass; c(w1) joins onto the bigram counts vocabulary-
    side (never corpus-side). Two aggregation shuffles, both vocabulary-
    width.

    Cache note: the returned model DataFrame PINS a persisted
    vocabulary-sized intermediate for the session (every scoring
    pass re-reads it); release it with spark.catalog.clearCache()
    or a df.unpersist() on the returned frame when done.
    """
    toks = tokens(F.col(text_col))
    big = (train.select(F.explode(adjacent_pairs(toks)).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count("*").alias("_c12")))
    uni = (train.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count("*").alias("_c"))
           .persist())
    # ONE action materializes the unigram cache AND reduces the corpus
    # total (r12, guide §1.2/§2.4): the total used to be a separate
    # 1-row aggregation broadcast-joined onto the backoff table, which
    # cost every consumer plan an exchange and re-ran the total subplan
    total = uni.agg(F.sum("_c").alias("_t")).first()["_t"]
    nano = lambda x: F.floor(x * 1000000000 + F.lit(0.5)).cast("long")
    bigrams = (big.join(uni.withColumnRenamed("w", "w1"), "w1")
               .select("w1", "w2",
                       nano(F.log(F.col("_c12") / F.col("_c")))
                       .alias("lnp_nano")))
    backoff = uni.select(
        "w",
        nano(F.log(F.lit(alpha) * F.col("_c")
                   / F.lit(total).cast("long"))).alias("lnp_nano"))
    return bigrams, backoff


def bigram_score(docs: DataFrame, bigrams: DataFrame, backoff: DataFrame,
                 floor_logprob: float = -30.0, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-doc mean bigram log-prob under a :func:`bigram_lm` model — the
    sharper perplexity proxy (unigram models can't see scrambled word
    order; a bigram model scores it like the gibberish it is).

    Per adjacent pair (w1, w2): the bigram log-prob if the model saw the
    pair, else the backoff unigram mass for w2, else a fixed OOV floor.
    Docs with fewer than 2 tokens have no scorable transition and are
    not emitted (mirror the filter in any oracle).

    Scale: docs explode once into pairs; both model joins are plain
    equi-joins — Catalyst broadcasts them while the model fits and
    falls back to shuffle hash joins beyond that (a web-scale bigram
    table outgrows broadcast; the plan survives either way). The only
    guaranteed shuffle is the final per-doc aggregation; sums are
    integer nanos (fold-order-free)."""
    floor_nano = int(floor_logprob * 1000000000)
    toks = tokens(F.col(text_col))
    # the n >= 2 filter prunes pairless docs before the explode; the
    # shared helper's internal guard makes the expression safe either way
    pairs = (spread(docs, id_col)
             .filter(F.size(toks) >= 2)
             .select(F.col(id_col),
                     F.explode(adjacent_pairs(toks)).alias("p"))
             .select(F.col(id_col), "p.w1", "p.w2"))
    scored = (pairs
              .join(bigrams.withColumnRenamed("lnp_nano", "_bi"),
                    ["w1", "w2"], "left")
              .join(backoff.select(F.col("w").alias("w2"),
                                   F.col("lnp_nano").alias("_bo")),
                    "w2", "left")
              .select(F.col(id_col),
                      F.coalesce("_bi", "_bo", F.lit(floor_nano))
                      .alias("_nano")))
    return (scored.groupBy(id_col)
            .agg(((F.sum("_nano") / F.count("*")) / 1000000000)
                 .alias("avg_logprob"),
                 F.count("*").alias("n_scored")))


# -- hashed linear classifier (fastText-style inference) ----------------------


def hashed_classifier_score(docs: DataFrame, buckets: int = 4096,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """FastText-shaped quality-classifier INFERENCE over a hashed
    bag-of-words: token -> hash bucket -> weight, mean over the doc ->
    logit -> keep/drop. This is the standard cheap model-based filter
    (e.g. a CCNet/LLaMA-style "looks like reference text" scorer) run as
    a pure expression tree — no UDF, no model server, whole-stage codegen.

    The weight table here is a deterministic pseudo-model
    (w[b] = (b % 1997) - 998; roughly-centered, NOT exactly zero-mean —
    with the default buckets=4096 the partial third residue cycle pulls
    the bucket mean to ~-23.6, so random text leans slightly toward
    drop; exact zero-mean would need buckets to be a multiple of 1997.
    The pseudo-model exists for oracle replication, not calibration) so
    an external oracle can replicate inference bit-for-bit; a TRAINED
    model drops in
    by replacing ``_weight`` with ``F.element_at(F.lit(weights), bucket+1)``
    (a broadcast literal array, same plan shape) without touching
    anything else. Weight sums stay in integers — fold-order-free, exact
    in any engine; the logit is one int/int division at the end.

    Returns (id, n_tokens, weight_sum, logit, keep).

    Scale: row-local projection — no shuffle, no Python; the classifier
    scan rides the same codegen stage as the read."""
    toks = F.col("_toks")

    def _weight(t):
        from .dedup import _hash32
        return (_hash32(t) % buckets) % 1997 - 998

    wsum = F.aggregate(toks, F.lit(0).cast("long"),
                       lambda acc, t: acc + _weight(t))
    return (spread(docs, id_col)
            .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
            .select(F.col(id_col),
                    F.size(toks).alias("n_tokens"),
                    wsum.alias("weight_sum"))
            .withColumn("logit",
                        F.col("weight_sum")
                        / (F.col("n_tokens") * F.lit(998.0)))
            .withColumn("keep", F.col("logit") > 0))


def normalize_text(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Canonical text normalization ahead of exact/near dedup: lowercase,
    strip every character outside [a-z0-9 ], collapse whitespace runs,
    trim — so casing/punctuation variants of the same content collide in
    the digest instead of surviving as distinct rows. The standard
    pre-dedup canonicalization (C4/CCNet pipelines normalize before
    hashing for exactly this reason).

    Pure row-local projection — regexp_replace in codegen, no UDF, no
    shuffle; rides the scan stage of whatever consumes it.

    Returns (id, text_norm, n_chars_norm)."""
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
        " +", " "))
    return (spread(docs, id_col)
            .select(F.col(id_col), norm.alias("text_norm"))
            .withColumn("n_chars_norm", F.length("text_norm")))


def _gram_rep_fold(grams: Column) -> Column:
    """Row-local repetition accounting over one n-gram list: sort, then
    ONE linear fold over equal-gram runs returning struct(best, dup) —
    ``best`` = max over grams of count*len(gram) (chars covered by the
    most repetitive gram), ``dup`` = Σ over grams with count>1 of
    (count-1)*len(gram) (chars in duplicate occurrences beyond the
    first). The same sorted-run discipline as ``_top_token_count`` /
    ``token_entropy`` — never a per-doc groupBy, never O(distinct*n)."""
    sg = F.array_sort(grams)

    def _fin_best(acc):
        return F.greatest(acc["best"], acc["run"] * F.length(acc["prev"]))

    def _fin_dup(acc):
        return acc["dup"] + F.when(
            acc["run"] > 1,
            (acc["run"] - 1) * F.length(acc["prev"])).otherwise(F.lit(0))

    def _step(acc, x):
        cont = x == acc["prev"]
        return F.struct(
            x.alias("prev"),
            F.when(cont, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(cont, acc["best"]).otherwise(_fin_best(acc).cast("long"))
            .alias("best"),
            F.when(cont, acc["dup"]).otherwise(_fin_dup(acc).cast("long"))
            .alias("dup"))

    init = F.struct(F.lit("").alias("prev"),
                    F.lit(0).cast("long").alias("run"),
                    F.lit(0).cast("long").alias("best"),
                    F.lit(0).cast("long").alias("dup"))
    return F.aggregate(
        sg, init, _step,
        lambda acc: F.struct(_fin_best(acc).cast("long").alias("best"),
                             _fin_dup(acc).cast("long").alias("dup")))


def ngram_repetition_signals(docs: DataFrame,
                             top_ns: tuple[int, ...] = (2, 3, 4),
                             dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Gopher/RedPajama-v2 n-gram repetition signals per document:

    - ``top{n}_e6`` for n in ``top_ns``: fraction of characters covered
      by the most repetitive n-gram (count * gram chars / doc chars) —
      the ``top_ngram_char_fraction`` family;
    - ``dup{n}_e6`` for n in ``dup_ns``: fraction of characters in
      DUPLICATE n-gram occurrences beyond each gram's first
      ((count-1) * gram chars / doc chars) — the
      ``dup_ngram_char_fraction`` family.

    Deviation from the published heuristics, made explicit for oracle
    parity: 'most repetitive' maximizes covered CHARS (count*len), not
    raw count — count ties between grams of different lengths are
    otherwise engine-arbitrary. Fractions are e6-quantized integers.

    Shape: every signal is ROW-LOCAL (gram build + sorted-run fold per
    n) — zero shuffles, zero explodes; the whole family rides the scan
    stage. Docs shorter than n contribute zero grams for that n (the
    distinct_ngram_ratios convention)."""
    toks = F.col("_toks")

    def grams(n: int) -> Column:
        if n == 1:
            return toks
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "))
        ).otherwise(F.array().cast("array<string>"))

    nch = F.length(F.col("_text"))
    # Zero-length (or NULL) docs would make every fraction divide by
    # zero — job-killing under ANSI mode, NaN/NULL otherwise; pin the
    # signal to 0 instead (no chars => nothing repeated). The oracle
    # mirrors this with a CASE WHEN (same convention as
    # quality_features.punct_ratio).
    e6 = lambda c: (F.when(nch > 0,
                           F.floor(c * 1000000 / nch + F.lit(0.5)))
                    .otherwise(F.lit(0)).cast("long"))
    cols = [F.col(id_col), nch.alias("n_chars")]
    cols += [e6(F.col(f"_r{n}")["best"]).alias(f"top{n}_e6")
             for n in top_ns]
    cols += [e6(F.col(f"_r{n}")["dup"]).alias(f"dup{n}_e6")
             for n in dup_ns]
    return (spread(docs, id_col)
            .select(F.col(id_col), F.col(text_col).alias("_text"),
                    tokens(F.col(text_col)).alias("_toks"))
            .select(F.col(id_col), "_text",
                    *[_gram_rep_fold(grams(n)).alias(f"_r{n}")
                      for n in sorted(set(top_ns) | set(dup_ns))])
            .select(*cols))


def line_filter(docs: DataFrame, min_chars: int = 0, min_words: int = 3,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """C4-style LINE-level cleaning (Raffel et al. 2020 §2.2): drop
    boilerplate lines WITHIN each document — too short (chars or words)
    or bullet-prefixed — and reassemble the survivors in order. The
    within-doc half of web-corpus line hygiene; the cross-doc half is
    :func:`dedup_lines`.

    Entirely ROW-LOCAL array algebra: split on newline, F.filter with
    the gates, array_join back — no explode, no shuffle; rides the scan
    stage. A gate evaluating NULL (never here — length/size are
    NULL-safe on non-null lines) would drop the line, matching SQL
    filter semantics.

    Returns (id, text_clean, n_lines, n_kept)."""
    lines = F.col("_lines")

    def keep(line: Column) -> Column:
        words = F.size(F.split(F.trim(line), " +"))
        return ((F.length(line) >= min_chars)
                & (words >= min_words)
                & ~F.trim(line).rlike(r"^[-*•]"))

    # Coalesce NULL text to '' before splitting (split(NULL) is NULL and
    # size(NULL) is -1) — NULL-text docs come back with one empty
    # (dropped) line, same convention as dedup_lines.
    return (spread(docs, id_col)
            .select(F.col(id_col),
                    F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
                    .alias("_lines"))
            .select(F.col(id_col),
                    F.size(lines).alias("n_lines"),
                    F.filter(lines, keep).alias("_kept"))
            .select(F.col(id_col), "n_lines",
                    F.size("_kept").alias("n_kept"),
                    F.array_join("_kept", "\n").alias("text_clean")))


def dedup_lines(docs: DataFrame, min_docs: int = 10, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Cross-document duplicate-LINE removal (the FineWeb/RefinedWeb
    boilerplate stage): a line whose normalized form appears in at least
    ``min_docs`` DISTINCT documents is boilerplate (nav bars, cookie
    banners, license footers) and is removed from EVERY document; the
    survivors reassemble in original order.

    Shape: one posexplode, one (line-key) count-distinct aggregation,
    one anti-join back, one per-doc reassembly — every step an equi-hash
    shuffle bounded by total line count; the boilerplate set itself is
    never collected (at 100 TB it can be millions of lines — the
    anti-join handles any size). Docs whose every line was boilerplate
    come back with empty text, not dropped.

    All three consumers (line-key counts, anti-join probe, per-doc
    totals) read ONE persisted exploded-lines table — per-branch column
    pruning makes their scan subplans differ, so ReuseExchange cannot
    deduplicate them and an unpinned plan would scan + re-line the
    corpus three times. Totals count exploded rows rather than
    re-scanning docs (split('\\n') yields >= 1 element for every
    string, so no doc is lost). Cache note: the pin lives for the
    returned plan's lifetime (the global_row_numbers discipline);
    release with spark.catalog.clearCache() when done.

    Returns (id, n_lines, n_kept, text_clean)."""
    # Coalesce NULL text to '' BEFORE splitting: split(NULL) is NULL and
    # posexplode would emit no rows, silently dropping the doc from both
    # totals and output — the contract is that every doc comes back
    # (empty text, not dropped). '' splits to [''], so the doc survives
    # with one (likely boilerplate-anti-joined) empty line.
    lines = (spread(docs, id_col)
             .select(F.col(id_col),
                     F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
                     .alias("_lines"))
             .select(F.col(id_col),
                     F.posexplode("_lines").alias("pos", "line")))
    lkey = F.lower(F.trim(F.col("line")))
    keyed = (lines.select(F.col(id_col), "pos", "line", lkey.alias("_lk"))
             .persist())
    boiler = (keyed.groupBy("_lk")
              .agg(F.countDistinct(id_col).alias("_nd"))
              .filter(F.col("_nd") >= min_docs)
              .select("_lk"))
    kept = keyed.join(boiler, "_lk", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.count("*").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]), "\n")
                    .alias("text_clean")))
    totals = keyed.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    return (totals.join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.col("n_lines").cast("int").alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("text_clean", F.lit("")).alias("text_clean")))


def distinct_ngram_ratios(docs: DataFrame, group_col: str = "source",
                          ns: tuple[int, ...] = (1, 2, 3),
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Corpus DIVERSITY per group: for each n in ``ns``, total n-grams,
    distinct n-grams, and the distinct/total ratio (permille) — the
    distinct-n statistic that flags template-generated or
    self-repetitive corpora (low ratio = low diversity), watched per
    source before mixing. One row per (group, n).

    Shape: all requested n-gram orders are built ROW-LOCALLY into one
    tagged array, so the corpus scans ONCE and explodes once; the only
    shuffle is the (group, n)-keyed count + exact distinct. At full
    scale swap countDistinct for approx_count_distinct the same way
    profile_table does."""
    toks = F.col("_toks")

    def grams(n: int) -> Column:
        if n == 1:
            g = toks
        else:
            # docs shorter than n contribute ZERO n-grams (matching the
            # oracle's range(1, greatest(len-(n-1),0)+1) semantics) — and
            # the guard must be a when(), not a sequence floor: a floor of
            # 0 makes sequence(1,0) DESCEND ([1,0]) and slice(toks, 0, n)
            # throw, while dedup's floor-1 convention would emit a
            # truncated gram the oracle doesn't have
            g = F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                    lambda i: F.array_join(F.slice(toks, i, n), " "))
            ).otherwise(F.array().cast("array<string>"))
        return F.transform(g, lambda x: F.struct(
            F.lit(n).alias("n"), x.alias("gram")))

    tagged = (spread(docs, id_col)
              .select(F.col(group_col).alias("grp"),
                      tokens(F.col(text_col)).alias("_toks"))
              .select("grp",
                      F.explode(F.concat(*[grams(n) for n in ns]))
                      .alias("g"))
              .select("grp", "g.n", "g.gram"))
    return (tagged.groupBy("grp", "n")
            .agg(F.count("*").alias("total_grams"),
                 F.countDistinct("gram").alias("distinct_grams"))
            .select(F.col("grp").alias(group_col), "n",
                    "total_grams", "distinct_grams",
                    F.floor(F.col("distinct_grams") * 1000
                            / F.col("total_grams")).cast("long")
                    .alias("distinct_permille")))


def token_entropy(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Per-doc Shannon entropy of the TOKEN distribution — the
    randomness/templating signal next to repetition stats: near-zero
    entropy means one token dominates (boilerplate, generated filler),
    maximal entropy means every token unique. Computed ROW-LOCALLY with
    the sorted-run trick: H = ln(n) - (Σ c·ln c)/n where c are token
    multiplicities, and Σ c·ln c accumulates in ONE linear pass over the
    sorted token array (run boundaries close each multiplicity) — no
    explode, no per-doc groupBy, no O(n·distinct) nested scan.

    Returns (id, n_tokens, entropy_nano). Each run's c·ln c term is
    nano-quantized to an INTEGER before summing (the lm_score/bm25
    discipline): a raw double Σ would accumulate in Spark's sorted-run
    order but the oracle's hash-aggregate order, and JVM Math.log vs
    libm ln can differ by 1 ulp per term — quantize-then-sum keeps the
    comparison exact up to per-term boundary hits instead of letting
    fold-order drift shift the total."""
    toks = F.col("_toks")
    n_tok = F.size(toks)

    def _term(run):
        # floor(c*ln(c)*1e9 + 0.5) as a long; ln(1)=0 -> runs of 1 add 0
        return F.floor(run * F.log(run) * 1e9 + F.lit(0.5)).cast("long")

    def _run(acc, x):
        return F.when(acc["prev"].eqNullSafe(x),
                      acc["run"] + 1).otherwise(F.lit(1).cast("long"))

    def _acc(acc, x):
        # when a run ends, fold the closed run's quantized term in
        return F.when(
            acc["prev"].isNull() | acc["prev"].eqNullSafe(x), acc["s"]) \
            .otherwise(acc["s"] + _term(acc["run"]))

    folded = F.aggregate(
        F.array_sort(toks),
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).cast("long").alias("run"),
                 F.lit(0).cast("long").alias("s")),
        lambda acc, x: F.struct(
            x.alias("prev"), _run(acc, x).alias("run"),
            _acc(acc, x).alias("s")),
        lambda acc: acc["s"] + F.when(
            acc["run"] > 0, _term(acc["run"])).otherwise(
                F.lit(0).cast("long")))
    return (spread(docs, id_col)
            .select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
            .select(F.col(id_col), n_tok.alias("n_tokens"),
                    folded.alias("_snano"))
            .select(F.col(id_col), "n_tokens",
                    (F.floor(F.log("n_tokens") * 1e9 + F.lit(0.5))
                     .cast("long")
                     - F.floor(F.col("_snano") / F.col("n_tokens")
                               + F.lit(0.5)).cast("long"))
                    .alias("entropy_nano")))


def compression_ratio(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc zlib compression ratio — the classic cheap quality signal
    (highly compressible text is repetitive boilerplate or generated
    filler; incompressible text is noise/binary junk; natural prose sits
    in a stable band). Arrow-batched zlib over utf-8 bytes (level 6,
    deterministic for a given zlib), permille-quantized.

    Returns (id, n_bytes, n_compressed, ratio_permille)."""
    import zlib

    import pandas as pd

    def ratios(batches):
        for pdf in batches:
            raw = [t.encode("utf-8") if t is not None else b""
                   for t in pdf[text_col]]
            comp = [len(zlib.compress(b, 6)) for b in raw]
            nb = [len(b) for b in raw]
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "n_bytes": pd.Series(nb, dtype="int64"),
                "n_compressed": pd.Series(comp, dtype="int64"),
                "ratio_permille": pd.Series(
                    [c * 1000 // b if b else 0
                     for c, b in zip(comp, nb)], dtype="int64"),
            })

    return (docs.select(id_col, text_col)
            .mapInPandas(ratios,
                         schema=f"{id_col} long, n_bytes long, "
                                f"n_compressed long, ratio_permille long"))


def classifier_pr_sweep(scored: DataFrame, label_col: str,
                        score_col: str = "logit",
                        thresholds_micro: tuple[int, ...] = (
                            -500_000, -250_000, -100_000, -50_000, 0,
                            50_000, 100_000, 250_000, 500_000)) -> DataFrame:
    """Quality-classifier CALIBRATION: precision / recall at a grid of
    decision thresholds against a boolean reference label — the sweep a
    pipeline runs before picking the keep/drop cutoff that hits a target
    data budget. One row per threshold: (th_micro, tp, fp, fn,
    precision_ppm, recall_ppm).

    ONE aggregation over one scan: each threshold contributes three
    conditional sums to a single wide agg row (thresholds are a fixed
    small grid, so the agg stays a codegen'd projection — no explode of
    the corpus, no per-threshold pass), reshaped to long form with a
    literal-struct explode exactly like profile.quantile_profile.
    Integer counts and ppm ratios end to end — hash-oracle-safe."""
    y = F.col(label_col)
    aggs = []
    for t in thresholds_micro:
        pred = F.col(score_col) >= F.lit(t) / F.lit(1e6)
        aggs += [
            F.sum(F.when(pred & y, 1).otherwise(0)).alias(f"tp_{t}"),
            F.sum(F.when(pred & ~y, 1).otherwise(0)).alias(f"fp_{t}"),
            F.sum(F.when(~pred & y, 1).otherwise(0)).alias(f"fn_{t}"),
        ]
    agg = scored.agg(*aggs)

    def _ppm(num, den):
        return (F.when(den == 0, F.lit(0))
                .otherwise(F.floor(num * F.lit(1_000_000) / den))
                .cast("long"))

    return (agg.select(F.explode(F.array(*[
        F.struct(
            F.lit(t).alias("th_micro"),
            F.col(f"tp_{t}").cast("long").alias("tp"),
            F.col(f"fp_{t}").cast("long").alias("fp"),
            F.col(f"fn_{t}").cast("long").alias("fn"),
            _ppm(F.col(f"tp_{t}"),
                 F.col(f"tp_{t}") + F.col(f"fp_{t}")).alias("precision_ppm"),
            _ppm(F.col(f"tp_{t}"),
                 F.col(f"tp_{t}") + F.col(f"fn_{t}")).alias("recall_ppm"))
        for t in thresholds_micro])).alias("r"))
        .select("r.*"))


# -- BM25 ranked retrieval ----------------------------------------------------


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BM25 top-k retrieval for one bag-of-terms query over a document
    corpus — the classic inverted-index ranking (Robertson/Sparck Jones;
    Lucene's idf variant ``ln((N - df + .5)/(df + .5) + 1)``), expressed
    as a pure DataFrame pipeline:

    1. tokens are filtered to the query terms ROW-LOCALLY (array filter
       before explode) — at 100 TB nothing but query-term hits ever leaves
       the scan, so the explode is proportional to matches, not corpus;
    2. one (doc, term) aggregation builds the tf table (doc length rides
       along, computed pre-explode — no second join against the corpus);
    3. per-term document frequencies are a second tiny aggregation over
       the tf table, broadcast back (vocabulary-sized);
    4. corpus stats (N, total length) are a 1-row broadcast — exact
       integer sums, so ``avgdl`` is one int/int division in any engine;
    5. per-term BM25 partials are quantized to integer NANO units before
       the per-doc sum (fold-order-free, bit-identical cross-engine — the
       same discipline as ``lm_score``); top-k is orderBy + limit
       (TakeOrdered — no single-partition exchange).
    """
    toks = tokens(F.col(text_col))
    # persist: the corpus-stats aggregation and the hits explode are
    # separate subplans over `base` — unpinned, the corpus would be
    # scanned and re-tokenized twice per query (the dedup_lines /
    # audio_fp_neardup discipline). Cache note: lives for the returned
    # plan's lifetime; release with spark.catalog.clearCache().
    base = (spread(docs, id_col)
            .select(F.col(id_col), toks.alias("_toks"),
                    F.size(toks).alias("dl"))
            .persist())
    stats = base.agg(F.count("*").alias("_n"),
                     F.sum("dl").alias("_sum_dl"))
    hits = (base.select(
                F.col(id_col), "dl",
                F.explode(F.filter(F.col("_toks"),
                                   lambda t: t.isin(*terms))).alias("tok"))
            .groupBy(id_col, "tok")
            .agg(F.count("*").alias("tf"), F.max("dl").alias("dl")))
    dfreq = hits.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (hits.join(F.broadcast(dfreq), "tok")
              .join(F.broadcast(stats)))
    avgdl = F.col("_sum_dl") / F.col("_n")
    idf = F.log((F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tfnorm = (F.col("tf") * (k1 + 1)
              / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))
    nano = F.floor(idf * tfnorm * 1000000000 + F.lit(0.5)).cast("long")
    return (scored
            .groupBy(id_col)
            .agg(F.sum(nano).alias("score_nano"),
                 F.count("*").alias("n_terms_hit"))
            .orderBy(F.col("score_nano").desc(), F.col(id_col))
            .limit(k)
            .select(id_col, "score_nano",
                    (F.col("score_nano") / 1000000000).alias("score"),
                    "n_terms_hit"))


def collocations(docs: DataFrame, min_count: int = 5, top: int = 20,
                 text_col: str = "text") -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token pairs: PMI = ln( (c12/P) / ((c1/N) * (c2/N)) ) with P = total
    pairs, N = total tokens — the classic corpus-analysis statistic for
    multiword expressions ("hong kong"-style units a tokenizer or phrase
    table should fuse). ``min_count`` guards the PMI low-frequency bias.

    Shape: ONE exploded pass each for pair and unigram counts
    (vocabulary-width shuffles), unigram counts joined onto the pair
    vocabulary (never the corpus), scalar totals as 1-row broadcasts.
    PMI is nano-quantized so the ranking is engine-stable.

    Cache note: the returned model DataFrame PINS a persisted
    vocabulary-sized intermediate for the session (every scoring
    pass re-reads it); release it with spark.catalog.clearCache()
    or a df.unpersist() on the returned frame when done.
    """
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    big = (docs.select(F.explode(adjacent_pairs(toks)).alias("p"))
           .select("p.w1", "p.w2")
           .groupBy("w1", "w2").agg(F.count("*").alias("c12"))
           .filter(F.col("c12") >= min_count))
    uni = (docs.select(F.explode(toks).alias("w"))
           .groupBy("w").agg(F.count("*").alias("_c"))
           .persist())
    uni.count()
    totals = (uni.agg(F.sum("_c").alias("_n"))
              .crossJoin(docs.select(
                  F.greatest(n - 1, F.lit(0)).alias("_np"))
                  .agg(F.sum("_np").alias("_p"))))
    scored = (big
              .join(uni.select(F.col("w").alias("w1"),
                               F.col("_c").alias("c1")), "w1")
              .join(uni.select(F.col("w").alias("w2"),
                               F.col("_c").alias("c2")), "w2")
              .join(F.broadcast(totals)))
    pmi = F.log((F.col("c12") / F.col("_p"))
                / ((F.col("c1") / F.col("_n"))
                   * (F.col("c2") / F.col("_n"))))
    nano = F.floor(pmi * 1000000000 + F.lit(0.5)).cast("long")
    return (scored.select("w1", "w2", "c12", nano.alias("pmi_nano"))
            .orderBy(F.col("pmi_nano").desc(), "w1", "w2")
            .limit(top))


# -- BPE tokenizer: sample-trained, corpus-applied ----------------------------


def train_bpe(texts: list[str], n_merges: int = 32) -> list[tuple[str, str]]:
    """Classic BPE merge-list training (Sennrich et al. 2016) on a LOCAL
    sample — the production pattern: the tokenizer is trained once on a
    driver-sized sample, then applied to the full corpus distributed
    (:func:`apply_bpe`). Words split to characters + terminal '</w>';
    each round merges the most frequent adjacent symbol pair (count desc,
    pair asc tiebreak — fully deterministic). Returns the ordered merge
    list, which IS the tokenizer."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[tuple(list(w) + ["</w>"])] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, cnt in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = Counter()
        for sym, cnt in words.items():
            out, i = [], 0
            while i < len(sym):
                if (i + 1 < len(sym)
                        and (sym[i], sym[i + 1]) == best):
                    out.append(sym[i] + sym[i + 1])
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            merged[tuple(out)] += cnt
        words = merged
    return merges


def bpe_encode(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Apply an ordered merge list to one word (greedy, in merge-priority
    order — the standard BPE inference)."""
    sym = list(word) + ["</w>"]
    for a, b in merges:
        i, out = 0, []
        while i < len(sym):
            if i + 1 < len(sym) and sym[i] == a and sym[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(sym[i])
                i += 1
        sym = out
    return sym


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]],
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distributed BPE tokenization under a trained merge list: per doc,
    the real subword count and a digest of the token stream (narrow
    output; the stream itself would be the corpus again). Arrow-batched
    ``mapInPandas``; the merge list rides the task closure (a tokenizer
    is kilobytes). Per-word encodings are memoized per batch — natural
    text repeats words heavily."""
    import hashlib

    import pandas as pd

    def encode(batches):
        for pdf in batches:
            cache: dict[str, list[str]] = {}
            ids, counts, digests = [], [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks: list[str] = []
                for w in (text or "").split(" "):
                    if not w:
                        continue
                    if w not in cache:
                        cache[w] = bpe_encode(w, merges)
                    toks.extend(cache[w])
                ids.append(did)
                counts.append(len(toks))
                digests.append(hashlib.md5(
                    "\x1f".join(toks).encode()).hexdigest())
            yield pd.DataFrame({id_col: pd.Series(ids, dtype="int64"),
                                "n_subwords": pd.Series(counts,
                                                        dtype="int64"),
                                "token_digest": digests})

    return docs.select(id_col, text_col).mapInPandas(
        encode, schema=f"{id_col} long, n_subwords long, token_digest string")


# -- positional inverted index + phrase search --------------------------------


def inverted_index(docs: DataFrame, terms: list[str] | None = None,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Positional posting lists — (term, doc_id, positions) with positions
    sorted ascending — the materialized index a search system builds once
    and queries many times. With ``terms`` given, tokens are filtered
    ROW-LOCALLY (inside the array, before the explode), so at 100 TB only
    query-term hits ever leave the scan; without it this is the full index
    build whose output is the posting-list table you'd write partitioned
    by term.

    One explode + one (term, doc) aggregation; partial aggregation
    combines map-side."""
    toks = tokens(F.col(text_col))
    idxed = F.transform(toks, lambda t, i: F.struct(i.alias("pos"),
                                                   t.alias("term")))
    if terms is not None:
        idxed = F.filter(idxed, lambda s: s["term"].isin(*terms))
    return (docs.select(F.col(id_col), F.explode(idxed).alias("s"))
            .select(F.col(id_col), F.col("s.term").alias("term"),
                    F.col("s.pos").alias("pos"))
            .groupBy("term", id_col)
            .agg(F.sort_array(F.collect_list("pos")).alias("positions")))


def phrase_search(docs: DataFrame, phrase: str, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact phrase search over the positional index: docs containing the
    token sequence ``phrase``, with the occurrence count — the posting-
    list-intersection query shape (Lucene PhraseQuery).

    Term j's postings are normalized to candidate START positions
    (pos - j) and equi-joined on (doc, start); k-1 joins over
    query-term-hit-sized inputs, never over the corpus. A doc matches
    once per position where all k terms line up consecutively."""
    terms = phrase.split(" ")
    # ''.split(' ') is [''], never [] — guard the PHRASE, not the list,
    # and refuse empty terms (doubled spaces), which would "match" the
    # empty tokens that empty/multi-space docs contain
    if not phrase or not all(terms):
        raise ValueError("empty phrase")
    idx = inverted_index(docs, sorted(set(terms)), id_col, text_col)
    cur = (idx.filter(F.col("term") == terms[0])
           .select(F.col(id_col), F.explode("positions").alias("start")))
    for j, t in enumerate(terms[1:], start=1):
        nxt = (idx.filter(F.col("term") == t)
               .select(F.col(id_col), F.explode("positions").alias("_p"))
               .select(F.col(id_col), (F.col("_p") - j).alias("start")))
        cur = cur.join(nxt, [id_col, "start"])
    return (cur.groupBy(id_col)
            .agg(F.count("*").alias("n_matches"))
            .orderBy(id_col))


# -- BPE merge-step pair counting ---------------------------------------------


def pair_counts(docs: DataFrame, top: int = 32,
                text_col: str = "text") -> DataFrame:
    """One merge step of BPE-style tokenizer training, corpus-wide: count
    every ADJACENT token pair and return the ``top`` most frequent
    (count desc, pair asc) — the statistic a distributed BPE trainer
    recomputes per merge iteration (Sennrich et al. 2016; at corpus scale
    the pair histogram is exactly this groupBy).

    Shape: the per-doc pair list is ROW-LOCAL (two slices zipped — no
    self-join on position), then explode -> count. Partial aggregation
    combines map-side, so the shuffle carries one row per DISTINCT pair
    per task, not per occurrence; the top-N is orderBy+limit
    (TakeOrdered, no single-partition exchange)."""
    toks = tokens(F.col(text_col))
    pairs = F.transform(adjacent_pairs(toks),
                        lambda p: F.concat(p["w1"], F.lit(" "), p["w2"]))
    return (docs.select(F.explode(pairs).alias("pair"))
            .groupBy("pair").agg(F.count("*").alias("n_pairs"))
            .orderBy(F.col("n_pairs").desc(), "pair")
            .limit(top))


def winnow_fingerprints(docs: DataFrame, k: int = 4, w: int = 5,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every word k-gram, slide a window of w
    consecutive hashes, and keep each window's MINIMUM hash (rightmost
    occurrence on ties) — the guarantee is that any shared substring of
    length >= w + k - 1 tokens contributes at least one IDENTICAL
    selected fingerprint in both documents, at ~2/(w+1) the density of
    keeping every gram. The standard plagiarism / near-copy sketch when
    MinHash's whole-document granularity is too coarse.

    Returns distinct (id, gram_pos, fp_hash) rows.

    Plan: gram hashes in the scan projection (posexplode), ONE window
    function per doc ordered by position — the rightmost-min selection
    is a plain integer min over the frame (hash and reversed position
    packed into one sortable key, so Spark and the SQL oracle pick
    bit-identical winners), then a distinct over selected rows. One
    doc-keyed shuffle; fingerprint density (not corpus size) bounds the
    output."""
    from pyspark.sql.window import Window as W

    from .dedup import _hash32, tokenized

    _POSCAP = 1 << 20          # docs are < 1M grams by contract
    toks = tokenized(docs, id_col, text_col).filter(
        F.size("_toks") >= k + w - 1)
    grams = toks.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.size("_toks") - k),
            lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, k))))
        .alias("pos", "gram"))
    # the contract is ENFORCED, not assumed: a doc with >= 2^20 grams
    # would borrow from the hash field (negative pos complement) and
    # silently corrupt every downstream winner — raise instead
    pos_ok = F.when(
        F.col("pos") < _POSCAP, F.col("pos")).otherwise(
        F.raise_error(F.concat(
            F.lit("winnow_fingerprints: doc "), F.col(id_col).cast("string"),
            F.lit(f" has >= {_POSCAP} grams — split it or raise _POSCAP"))))
    hashed = grams.select(
        F.col(id_col), "pos",
        (_hash32(F.col("gram")) * _POSCAP
         + (F.lit(_POSCAP - 1) - pos_ok)).alias("_key"))
    frame = (W.partitionBy(id_col).orderBy("pos")
             .rowsBetween(0, w - 1))
    n_h = W.partitionBy(id_col)
    sel = hashed.select(
        F.col(id_col), "pos",
        F.min("_key").over(frame).alias("_win"),
        F.count("*").over(n_h).alias("_n"))
    # only full windows select (start pos <= n_hashes - w)
    return (sel.filter(F.col("pos") <= F.col("_n") - w)
            .select(F.col(id_col),
                    (F.lit(_POSCAP - 1) - F.col("_win") % _POSCAP)
                    .alias("gram_pos"),
                    F.floor(F.col("_win") / _POSCAP).alias("fp_hash"))
            .distinct())


def winnow_match_pairs(fps: DataFrame, min_shared: int = 2,
                       id_col: str = "doc_id") -> DataFrame:
    """MOSS match step over :func:`winnow_fingerprints` output: document
    pairs ranked by the number of DISTINCT shared fingerprint hashes —
    the near-copy report. Inverted-index equi-join on fp_hash (never
    all-pairs); the same hot-key caveat as shingle joins applies, so
    boilerplate fingerprints shared by more than ~sqrt(corpus) docs
    should be stop-listed upstream at scale."""
    a = fps.select(F.col(id_col).alias("id_a"), "fp_hash").distinct()
    b = fps.select(F.col(id_col).alias("id_b"), "fp_hash").distinct()
    return (a.join(b, "fp_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def tfidf_vectors(docs: DataFrame, dim: int = 64,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Hashing-trick TF-IDF document vectors: token -> bucket =
    hash32(token) % dim (no vocabulary build, the fastText/Vowpal trick
    that keeps featurization ROW-LOCAL at any corpus size), tf per
    (doc, bucket), idf = ln((N + 1) / (df + 1)) + 1 from one bucket-keyed
    aggregation, L2-normalized dense array<double> per doc.

    Returns (id, tfidf). The vector column feeds the similarity suite
    unchanged — k-means topic clustering, ANN, PQ — which is the point:
    text becomes just another embedding column.

    Shuffles: one (doc, bucket) tf aggregation + one broadcast of the
    dim-row idf table; the dense-vector build is a map-typed lookup
    projection, no pivot."""
    from .dedup import _hash32, tokenized

    toks = tokenized(docs, id_col, text_col)
    tf = (toks.select(F.col(id_col), F.explode("_toks").alias("tok"))
          .filter(F.col("tok") != "")
          .select(F.col(id_col), (_hash32(F.col("tok")) % dim).alias("b"))
          .groupBy(id_col, "b").agg(F.count("*").alias("tf")))
    n_docs = docs.select(F.countDistinct(id_col).alias("n"))
    idf = (tf.groupBy("b").agg(F.countDistinct(id_col).alias("df"))
           .join(F.broadcast(n_docs))
           .select("b", (F.log((F.col("n") + 1) / (F.col("df") + 1)) + 1)
                   .alias("idf")))
    weighted = (tf.join(F.broadcast(idf), "b")
                .select(F.col(id_col), "b",
                        (F.col("tf") * F.col("idf")).alias("w")))
    dense = (weighted.groupBy(id_col)
             .agg(F.map_from_entries(F.collect_list(F.struct("b", "w")))
                  .alias("_m"))
             .select(F.col(id_col),
                     F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                                 lambda i: F.coalesce(
                                     F.element_at("_m", i.cast("long")),
                                     F.lit(0.0))).alias("_v")))
    nrm = F.sqrt(F.aggregate("_v", F.lit(0.0),
                             lambda a, x: a + x * x))
    return dense.select(
        F.col(id_col),
        F.transform("_v", lambda x: x / nrm).alias("tfidf"))


def cluster_documents(docs: DataFrame, k: int = 8, dim: int = 64,
                      iters: int = 4, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Topic clustering = TF-IDF vectors + the similarity suite's
    distributed k-means: (id, cluster_id). The corpus-organization pass
    (topic-balanced sampling, per-topic quality review) that needs no
    external embedding model."""
    from .similarity import assign_to_centroids, kmeans_fit
    vecs = tfidf_vectors(docs, dim, id_col, text_col).persist()
    try:
        cents = kmeans_fit(vecs, k=k, iters=iters,
                           id_col=id_col, vec_col="tfidf")
        return (assign_to_centroids(vecs, cents, id_col=id_col,
                                    vec_col="tfidf")
                .select(F.col(id_col),
                        F.col("centroid_id").alias("cluster_id")))
    finally:
        vecs.unpersist()


def gopher_filter(docs: DataFrame, min_tokens: int = 50,
                  max_tokens: int = 100000,
                  min_mean_word_len: float = 3.0,
                  max_mean_word_len: float = 10.0,
                  min_stopword_count: int = 2,
                  max_top_token_frac: float = 0.2,
                  max_dup_3gram_frac: float = 0.3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """The Gopher quality-rule bundle (Rae et al. 2021, App. A1.1 shape)
    as ONE row-local verdict: length bounds, mean word length bounds,
    minimum stopword count, most-frequent-token share, duplicate-3-gram
    fraction — each rule a boolean column plus the conjunction ``keep``.
    The standard pre-model heuristic gate a pretraining pipeline runs
    before any classifier scoring.

    All signals are integer/integer arithmetic over one token-array
    projection — no shuffle, no UDF; every ratio is bit-identical across
    engines, and the rule thresholds compare against exact fractions
    (n * den cmp num form is avoided because the int/int doubles are
    already exact enough: numerator/denominator pairs are < 2^53)."""
    toks, g3 = F.col("_toks"), F.col("_g3")
    n_tok = F.size(toks)
    # most-frequent-token count: the shared linear sorted-run fold
    top_count = _top_token_count(toks)
    base = (spread(docs, id_col)
            .select(F.col(id_col), F.col(text_col),
                    F.split(F.col(text_col), " ").alias("_toks"))
            .select(F.col(id_col), "_toks",
                    F.transform(
                        F.sequence(F.lit(1),
                                   F.greatest(F.size(toks) - 2, F.lit(1))),
                        lambda i: F.array_join(F.slice(toks, i, 3), " "))
                    .alias("_g3"),
                    F.aggregate(F.transform(F.col("_toks"), F.length),
                                F.lit(0),
                                lambda a, x: a + x).alias("_tok_chars"))
            .select(
                F.col(id_col),
                n_tok.alias("n_tokens"),
                (F.col("_tok_chars") / n_tok).alias("mean_word_len"),
                _count_in_lower(toks, STOPWORDS).alias("n_stopwords"),
                (top_count / n_tok).alias("top_token_frac"),
                (1 - F.size(F.array_distinct(g3)) / F.size(g3))
                .alias("dup_3gram_frac")))
    rules = base.select(
        "*",
        ((F.col("n_tokens") >= min_tokens)
         & (F.col("n_tokens") <= max_tokens)).alias("r_len"),
        ((F.col("mean_word_len") >= min_mean_word_len)
         & (F.col("mean_word_len") <= max_mean_word_len))
        .alias("r_word_len"),
        (F.col("n_stopwords") >= min_stopword_count).alias("r_stopwords"),
        (F.col("top_token_frac") <= max_top_token_frac)
        .alias("r_top_token"),
        (F.col("dup_3gram_frac") <= max_dup_3gram_frac)
        .alias("r_dup_3gram"))
    return rules.withColumn(
        "keep",
        F.col("r_len") & F.col("r_word_len") & F.col("r_stopwords")
        & F.col("r_top_token") & F.col("r_dup_3gram"))


def ctfidf_terms(docs: DataFrame, group_col: str, top: int = 5,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF statistic): for each
    group (topic / source / language) the terms that CHARACTERIZE it —
    tf of the term within the group scaled by log(1 + A / f_t), where
    A is the mean group token mass and f_t the term's corpus-wide count.
    The dataset-card "what is this slice about" summary.

    Scores are nano-quantized to integers before ranking (ln is
    correctly-rounded-enough everywhere, and the tf multiplier is an
    exact integer), ties broken by term, so top-k per group is
    deterministic and engine-reproducible.

    Shape: one explode -> (group, term) counts (map-side partials), a
    terms-wide marginal (one more agg over the same counts), the 1-row
    corpus mean broadcast, and a per-group top-k window over ~|terms|
    rows per group — never the corpus."""
    toks = (docs.select(F.col(group_col).alias("grp"),
                        F.explode(F.split(F.col(text_col), " "))
                        .alias("term")))
    gt = toks.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    ft = gt.groupBy("term").agg(F.sum("tf").alias("f_t"))
    a = (gt.groupBy("grp").agg(F.sum("tf").alias("_m"))
         .agg(F.avg("_m").alias("_A")))
    scored = (gt.join(ft, "term")
              .join(F.broadcast(a))
              .select("grp", "term", "tf",
                      F.floor(F.col("tf")
                              * F.log(F.lit(1.0)
                                      + F.col("_A") / F.col("f_t"))
                              * F.lit(1e9) + F.lit(0.5))
                      .cast("long").alias("ctfidf_nano")))
    w = W.partitionBy("grp").orderBy(F.col("ctfidf_nano").desc(), "term")
    return (scored.withColumn("term_rank", F.row_number().over(w))
            .filter(F.col("term_rank") <= top)
            .select(F.col("grp").alias(group_col), "term", "tf",
                    "ctfidf_nano", "term_rank"))


def train_hashed_classifier(docs: DataFrame, label_col: str,
                            buckets: int = 1024, iters: int = 10,
                            lr: float = 0.5, l2: float = 1e-3,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> list[float]:
    """TRAIN the hashed bag-of-bigram quality classifier (logistic
    regression by full-batch gradient descent) — the training half of
    :func:`hashed_classifier_score`'s inference path. The fastText-style
    cheap model-based filter pipeline end to end: label a small seed set
    (e.g. "looks like wiki"), train here, score the corpus with
    :func:`apply_trained_classifier`.

    Per iteration: ONE broadcast join of the (buckets)-row weight table
    onto the exploded feature stream, a per-doc aggregation for the
    logit, and a per-bucket aggregation for the gradient — only the
    buckets-row gradient reaches the driver (it IS the model update).
    Features are mean-pooled hashed-bigram counts, so magnitudes are
    bounded regardless of doc length. Float aggregation is fold-order
    dependent -> the trained model is approximate by nature (tests
    assert accuracy, not bit-equality).

    Returns the weight list (index = bucket)."""
    import math

    from .dedup import _hash32, tokenized

    feats = (tokenized(docs, id_col, text_col,
                       extra_cols=[label_col])
             .select(F.col(id_col), F.col(label_col).cast("int").alias("_y"),
                     F.explode(F.transform(
                         F.sequence(F.lit(1),
                                    F.greatest(F.size("_toks") - 1,
                                               F.lit(1))),
                         lambda i: F.array_join(F.slice(F.col("_toks"),
                                                        i, 2), " ")))
                     .alias("_g")))
    feats = (feats.select(id_col, "_y",
                          (_hash32(F.col("_g")) % buckets).alias("_b"))
             .groupBy(id_col, "_y", "_b").agg(F.count("*").alias("_c")))
    per_doc = feats.groupBy(id_col).agg(F.sum("_c").alias("_n"))
    x = (feats.join(per_doc, id_col)
         .select(id_col, "_y", "_b", (F.col("_c") / F.col("_n"))
                 .alias("_x"))
         .persist())
    n_docs = x.select(id_col).distinct().count()

    spark = docs.sparkSession
    w = [0.0] * buckets
    for _ in range(iters):
        wdf = spark.createDataFrame(
            [(b, wv) for b, wv in enumerate(w)], "_b long, _w double")
        scored = (x.join(F.broadcast(wdf), "_b")
                  .groupBy(id_col, "_y")
                  .agg(F.sum(F.col("_x") * F.col("_w")).alias("_s")))
        resid = scored.select(
            id_col, "_y",
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_s")))
             - F.col("_y")).alias("_r"))
        grad = (x.join(resid.select(id_col, "_r"), id_col)
                .groupBy("_b")
                .agg(F.sum(F.col("_x") * F.col("_r")).alias("_g"))
                .collect())
        g = {r["_b"]: r["_g"] for r in grad}
        w = [wv - lr * (g.get(b, 0.0) / n_docs + l2 * wv)
             for b, wv in enumerate(w)]
    x.unpersist()
    return w


def apply_trained_classifier(docs: DataFrame, weights: list[float],
                             buckets: int | None = None,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Score docs with a TRAINED hashed-bigram model: the same broadcast
    weight-literal expression tree :func:`hashed_classifier_score`
    documents as the trained drop-in — mean-pooled hashed-bigram
    weights -> logit -> keep. Row-local except one per-doc aggregation
    over the doc's own feature array; no shuffle of the corpus.

    Returns (id, logit, keep)."""
    from .dedup import _hash32, tokenized

    buckets = buckets or len(weights)
    if len(weights) != buckets:
        raise ValueError("weights length must equal buckets")
    warr = F.lit(weights)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_toks") - 1, F.lit(1))),
        lambda i: F.array_join(F.slice(F.col("_toks"), i, 2), " "))
    wsum = F.aggregate(
        F.col("_gr"), F.lit(0.0),
        lambda acc, gc: acc + F.element_at(
            warr, (_hash32(gc) % buckets + 1).cast("int")))
    return (tokenized(docs, id_col, text_col)
            .select(F.col(id_col), grams.alias("_gr"))
            .select(F.col(id_col),
                    (wsum / F.size("_gr")).alias("logit"))
            .withColumn("keep", F.col("logit") > 0))
