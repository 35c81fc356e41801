"""Deduplication suite for large-scale training-data pipelines (north-star
extension, BASELINE.json): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact dedup: one hash-groupBy on the content digest — the digest is
  computed in the scan projection, so the shuffle carries (digest, id) only.
- n-gram Jaccard: shingle explode -> equi-join on shingle -> per-pair common
  counts. The shingle join is the classic "inverted index" plan: no O(n^2)
  cross product; hot shingles are the skew risk (AQE skew-join splits them;
  a stop-shingle filter caps the worst case).
- MinHash+LSH: k min-hashes per doc computed row-locally over the shingle
  array (higher-order functions, ZERO shuffles — min over the multiset ==
  min over the set), banded into b groups of r; candidate pairs join on
  (band, band_key) buckets, then exact-Jaccard verification runs ONLY on
  candidates.
- SimHash: per-shingle 32-bit hash -> per-bit ±1 votes -> sign vector packed
  to an int. One explode + one groupBy.

All hashing is md5-derived (first 8 hex chars -> 32-bit int) so results are
engine-reproducible — the DuckDB oracle computes the identical signatures.
(xxhash64 would be ~2x faster; swap `_hash32` for F.xxhash64 when oracle
portability is not required.)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window as W

from ..catalog import spread as _spread

# Cache ownership note: several operators here persist()/localCheckpoint()
# candidate or signature tables that the RETURNED lazy plan still reads —
# they cannot be unpersisted before the caller's action. In a long-lived
# session looping over many corpora: persist()'d tables are released by
# spark.catalog.clearCache(); localCheckpoint() blocks are NOT (they are
# RDD blocks, freed by the ContextCleaner only once the checkpointed
# DataFrame is garbage-collected) — drop all references to a returned
# plan between iterations so GC can reclaim them, or process each corpus
# in its own SparkSession if executor storage must be bounded tightly.

# -- shared helpers ----------------------------------------------------------


def _hash32(c: Column, seed: int | None = None) -> Column:
    """Deterministic 32-bit hash reproducible in any engine with md5:
    int(md5(seed ':' value)[:8], 16)."""
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    ``toks`` MUST be a materialized column (an attribute from its own
    projection), never an inline ``F.split(...)`` expression: expressions
    captured inside a higher-order-function lambda are re-evaluated PER
    ELEMENT (interpreted, no invariant hoisting), so an inline split would
    re-tokenize the document once per shingle position — measured ~5x on
    the signature stage. Use :func:`tokenized` to bind the projection."""
    # floor of 1: a shorter-than-n text yields one (truncated) shingle;
    # floor 0 would make sequence(1,0) DESCEND ([1,0]) and break slice()
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(grams)


def tokenized(docs: DataFrame, id_col: str, text_col: str,
              extra_cols: list[str] | None = None) -> DataFrame:
    """(id, _toks) projection: whitespace tokens as a bound attribute, the
    required input shape for :func:`shingles_from_tokens`. Docs are
    hash-spread first — the CPU-heavy shingle/hash work downstream must
    not serialize on a few input file partitions."""
    return _spread(docs, id_col).select(
        F.col(id_col), *(extra_cols or []),
        F.split(F.col(text_col), " ").alias("_toks"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a raw text column. Convenience
    form for one-off column use — inside operators prefer
    ``tokenized(...)`` + :func:`shingles_from_tokens` (see there: an
    inline split re-evaluates per shingle inside the lambda)."""
    return shingles_from_tokens(F.split(text, " "), n)


def shingle_table(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, shingle) exploded distinct-shingle table."""
    return tokenized(docs, id_col, text_col).select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))


# -- exact dedup ---------------------------------------------------------------


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup by content digest: one row per distinct text, keeping the
    smallest id (deterministic canonical representative) + duplicate count.

    NULL-text docs are dropped, the module-wide discipline: md5(NULL) is
    NULL and groupBy treats NULL digests as equal, so every row with
    missing text would otherwise collapse into one spurious "duplicate"
    group and a keep-only-keep_id pipeline would delete them against
    each other."""
    return (docs
            .filter(F.col(text_col).isNotNull())
            .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
            .groupBy("digest")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies"))
            )


# -- n-gram Jaccard near-dup -----------------------------------------------------


def _common_counts(docs: DataFrame, id_col: str, text_col: str, n: int,
                   max_shingle_doc_frac: float | None = None):
    """Shared inverted-index overlap core: (common(id_a, id_b), sizes) —
    each unordered pair's shared-shingle count from ONE shingle
    equi-join, plus the per-doc (filtered) set sizes. Extracting it
    keeps jaccard_pairs and containment_pairs on one candidate engine,
    so the stop-shingle guard and any future skew mitigation apply to
    BOTH (the containment use case — quotes/licences — is the one most
    exposed to hot-shingle blowup)."""
    sh = shingle_table(docs, id_col, text_col, n).alias("s")
    if max_shingle_doc_frac is not None:
        total = docs.agg(F.count("*").alias("_n"))
        hot = (sh.groupBy("shingle")
               .agg(F.count("*").alias("_df"))
               .join(F.broadcast(total))
               .filter(F.col("_df") > F.col("_n") * max_shingle_doc_frac)
               .select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti").alias("s")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"),
                 F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"),
                      F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"),
                      F.col("n_sh").alias("n_b"))
    return common.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(docs: DataFrame, threshold: float = 0.2,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3,
                  max_shingle_doc_frac: float | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >=1 shingle,
    filtered to >= threshold. Returns (id_a, id_b, jaccard) with id_a < id_b.

    Inverted-index join: |pairs| is bounded by shingle co-occurrence, never
    materializing the n^2 cross product.

    ``max_shingle_doc_frac`` is the stop-shingle guard for corpora with
    boilerplate: a shingle occurring in more than that fraction of docs
    (headers, licences) would alone generate O(n²) candidate pairs — the
    quadratic blowup AQE can split but not shrink. Setting e.g. 0.1 drops
    such shingles from every doc's set BEFORE the join (one extra
    shingle-keyed count + a broadcast anti-join; Jaccard denominators use
    the filtered sets — standard stop-shingle semantics). Off by default
    so the exact-oracle queries keep textbook Jaccard."""
    return (
        _common_counts(docs, id_col, text_col, n, max_shingle_doc_frac)
        .withColumn("jaccard", F.round(
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(docs: DataFrame, threshold: float = 0.6,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3,
                      max_shingle_doc_frac: float | None = None) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| — the
    quote-inclusion detector. A short document embedded verbatim inside a
    much longer one has containment ~1.0 while its symmetric Jaccard is
    tiny (|A∩B| / |A∪B| is diluted by the long doc's extra shingles), so
    `jaccard_pairs` at any useful threshold misses exactly the pairs a
    training-data pipeline most wants to drop (press-release quotes,
    embedded licences, scraped excerpts).

    Same inverted-index shape as `jaccard_pairs` — one shingle equi-join
    counts each unordered pair's overlap once, then BOTH directions are
    scored row-locally and filtered. Shares jaccard_pairs' candidate
    engine (:func:`_common_counts`), including the stop-shingle guard —
    the quote/licence corpora this detector targets are exactly the ones
    where a boilerplate shingle goes quadratic. Returns (contained_id,
    container_id, containment) — a row means contained_id's shingle set
    is >= threshold inside container_id's."""
    scored = _common_counts(docs, id_col, text_col, n,
                            max_shingle_doc_frac)
    fwd = scored.select(
        F.col("id_a").alias("contained_id"), F.col("id_b").alias("container_id"),
        F.round(F.col("common") / F.col("n_a"), 6).alias("containment"))
    rev = scored.select(
        F.col("id_b").alias("contained_id"), F.col("id_a").alias("container_id"),
        F.round(F.col("common") / F.col("n_b"), 6).alias("containment"))
    return (fwd.unionByName(rev)
            .filter(F.col("containment") >= threshold))


# -- MinHash + LSH ------------------------------------------------------------------

# Universal-hash family for MinHash permutations (Broder's construction):
# h_i(x) = (a_i * x + b_i) mod p over a 32-bit base hash x. p is the
# smallest prime > 2^32; a_i < 2^30 keeps a*x + b < 2^63 (no signed-64
# overflow, so Spark and DuckDB compute bit-identical values).
_MH_PRIME = 4294967311


def _mh_params(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) permutation constants — fixed multiplicative
    mixing of the index, shared by the Spark operator and the SQL oracle
    generator so both engines build the identical hash family."""
    a = [((0x9E3779B1 * (i + 1)) % (1 << 30)) | 1 for i in range(k)]
    b = [(0x85EBCA77 * (i + 1)) % _MH_PRIME for i in range(k)]
    return a, b


def minhash_signatures(docs: DataFrame, k: int = 16, id_col: str = "doc_id",
                       text_col: str = "text", n: int = 3,
                       keep_shingles: bool = False,
                       passthrough: list[str] | None = None) -> DataFrame:
    """k-permutation MinHash signature per doc: min over the shingle set of
    k universal-hash permutations of a 32-bit base hash — long columns
    mh0..mh{k-1}.

    Entirely ROW-LOCAL: the shingle array never explodes and there is no
    aggregation, because min over the shingle *multiset* equals min over
    the set (duplicates can't win a min) — so the whole signature stage is
    a projection with higher-order array functions: zero shuffles, scales
    with input partitions, nothing to spill. (The previous form —
    explode + distinct + 16-column groupBy — cost two shuffles of the full
    shingle table.)

    Cost shape: ONE md5 per shingle (the base hash); the k permutations
    are integer multiply-add-mod folds over the long array — no per-
    permutation digests, no string allocation. (An earlier 4-seeded-md5
    chunked family cost 4 md5 + 16 substring transforms per shingle;
    the arithmetic family is ~2x faster and standard practice.)

    ``keep_shingles=True`` additionally carries the shingle array through
    as ``_sh`` — the shape verification joins need (the streaming twin
    reuses THIS function so stream and batch signatures can never
    drift). ``passthrough`` columns ride along unchanged (e.g. the
    event-time column a streaming watermark needs downstream)."""
    # passthrough names must not shadow the stage's internal columns
    # (r12, ADVICE): a day column named like mh3 / _sh / _toks / _h
    # would collide with the signature projection and break the select
    # silently — fail loudly on the driver instead
    reserved = {"_sh", "_toks", "_h"} | {f"mh{i}" for i in range(k)}
    bad = sorted(set(passthrough or []) & reserved)
    if bad:
        raise ValueError(
            f"minhash_signatures: passthrough column(s) {bad} collide "
            f"with internal signature columns (mh0..mh{k - 1}, _sh, "
            "_toks, _h) — rename them before passing through")
    # drop NULL-text docs (the explode+groupBy form dropped them naturally;
    # without this they'd carry null signatures and collide in every LSH
    # band — m null docs -> O(m^2) spurious candidate pairs)
    docs = docs.filter(F.col(text_col).isNotNull())

    # Tokens, shingles, and base hashes each get their OWN projection:
    # inlining would re-evaluate the producing expression per consumer —
    # and per ELEMENT when captured in a lambda (see shingles_from_tokens).
    # CollapseProject leaves a non-cheap expression used more than once in
    # its own Project. Measured ~2x off the stage, on top of the ~5x from
    # not re-splitting inside the lambda.
    carry = list(passthrough or [])
    shingled = tokenized(docs, id_col, text_col, extra_cols=carry).select(
        F.col(id_col), *carry,
        shingles_from_tokens(F.col("_toks"), n).alias("_sh"))
    extra = (["_sh"] if keep_shingles else []) + carry
    hashed = shingled.select(
        F.col(id_col), *extra,
        F.transform("_sh", lambda s: _hash32(s)).alias("_h"))

    # closure FACTORY, not `lambda x, a=a, b=b:` parameter defaults — a
    # multi-parameter lambda makes PySpark pass (element, INDEX) and the
    # "default" silently binds to the runtime index column (seen: the
    # f-string baked "Column<x_N>:" into the hash seed, making signatures
    # plan-context-dependent garbage)
    def _perm(a: int, b: int):
        return lambda x: (x * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)

    av, bv = _mh_params(k)
    return hashed.select(
        F.col(id_col), *extra,
        *[F.array_min(F.transform("_h", _perm(av[i], bv[i]))).alias(f"mh{i}")
          for i in range(k)])


def band_signatures(sig: DataFrame, bands: int = 4, rows: int = 4,
                    id_col: str = "doc_id",
                    passthrough: list[str] | None = None) -> DataFrame:
    """(id, band, key) bucket table: the signature split into ``bands``
    groups of ``rows``, each group md5-compacted to one key.
    ``passthrough`` columns ride along unchanged (e.g. the ``_sh``
    shingle array a downstream verification join needs)."""
    # same collision guard as minhash_signatures (r12, ADVICE): the
    # banding select would silently mis-bind a passthrough named like
    # an internal column
    bad = sorted(set(passthrough or []) & {"band", "key", "bk"})
    if bad:
        raise ValueError(
            f"band_signatures: passthrough column(s) {bad} collide with "
            "internal banding columns (band, key, bk) — rename them "
            "before passing through")
    extra = passthrough or []
    return sig.select(
        F.col(id_col), *extra,
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.md5(F.concat_ws(",", *[F.col(f"mh{bi * rows + ri}")
                                         for ri in range(rows)])).alias("key"))
            for bi in range(bands)])).alias("bk"),
    ).select(id_col, *extra, "bk.band", "bk.key")


def lsh_candidate_pairs(sig: DataFrame, bands: int = 4, rows: int = 4,
                        id_col: str = "doc_id") -> DataFrame:
    """Band the signature into ``bands`` groups of ``rows``; docs sharing any
    band key are candidates. Emits distinct (id_a, id_b), id_a < id_b."""
    banded = band_signatures(sig, bands, rows, id_col)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def verify_pairs(docs: DataFrame, cand: DataFrame, threshold: float = 0.5,
                 id_col: str = "doc_id", text_col: str = "text",
                 n: int = 3) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair list against the doc
    corpus: (id_a, id_b, jaccard >= threshold).

    ``cand`` must be materialized (persisted) by the caller — it feeds two
    broadcast exchanges, and broadcast subplans build concurrently, so an
    un-cached candidate plan would execute twice.

    Semi-joins docs down to candidate ids FIRST (broadcast — the shingle
    projection must not run over the full corpus, only the vanishing
    candidate fraction), THEN attaches both shingle arrays to each pair
    via two more broadcast joins; exact Jaccard is ROW-LOCAL set algebra
    on the two distinct-shingle arrays — no shingle explode, no per-pair
    groupBy, no size joins. docs never hash-shuffles. The candidate docs
    are spread: broadcast joins preserve input partitioning, so a few-file
    corpus would otherwise verify on a few tasks.

    NULL-text docs are dropped HERE too, not only in the candidate
    generators: shingles_from_tokens(NULL) is [NULL] and
    array_intersect treats NULL==NULL, so a caller-supplied pair of two
    NULL-text docs would otherwise verify at jaccard 1.0 — a spurious
    duplicate between empty rows (the same bug class the signature and
    SNM pre-filters guard against, enforced in the shared helper so
    external callers with their own candidate source are covered)."""
    docs = docs.filter(F.col(text_col).isNotNull())
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .union(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    cdocs = tokenized(
        docs.join(F.broadcast(cand_ids), id_col, "left_semi"),
        id_col, text_col)
    sh_arr = shingles_from_tokens(F.col("_toks"), n)
    with_a = (cdocs.select(F.col(id_col).alias("id_a"),
                           sh_arr.alias("sh_a"))
              .join(F.broadcast(cand), "id_a"))
    pairs = (cdocs.select(F.col(id_col).alias("id_b"),
                          sh_arr.alias("sh_b"))
             .join(F.broadcast(with_a), "id_b"))
    common = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - common
    return (pairs
            .withColumn("jaccard", F.round(common / union, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_lsh_neardup(docs: DataFrame, threshold: float = 0.5,
                        k: int = 16, bands: int = 4, rows: int = 4,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3,
                        sig: DataFrame | None = None) -> DataFrame:
    """Full near-dup pipeline: MinHash -> LSH buckets -> candidate pairs ->
    exact-Jaccard verification on candidates only. Returns
    (id_a, id_b, jaccard >= threshold).

    ``sig`` is an optional PRECOMPUTED signature table (id + mh0..mh{k-1},
    e.g. the persisted store an incremental pipeline maintains) — pass it
    to skip re-shingling the corpus; None derives it here.

    Scale shape: the corpus is shingled ONCE (signature pass). Verification
    re-shingles only docs that appear in a candidate pair — candidates are a
    vanishing fraction of a 100 TB corpus, so the expensive exact-Jaccard
    stage is proportional to |candidates|, not |docs|. The pair list (and
    the pairs-with-text intermediate) broadcast — they fit by construction
    or the LSH banding is mistuned — so docs itself never shuffles."""
    if sig is None:
        sig = minhash_signatures(docs, k, id_col, text_col, n)
    # persist + materialize the (tiny) candidate list — see verify_pairs
    cand = lsh_candidate_pairs(sig, bands, rows, id_col).persist()
    cand.count()
    return verify_pairs(docs, cand, threshold, id_col, text_col, n)


def minhash_lsh_neardup_windowed(docs: DataFrame, day_col: str,
                                 window: int = 7, threshold: float = 0.5,
                                 k: int = 16, bands: int = 4, rows: int = 4,
                                 id_col: str = "doc_id",
                                 text_col: str = "text",
                                 n: int = 3) -> DataFrame:
    """TIME-BOUNDED near-dup: :func:`minhash_lsh_neardup` restricted to
    pairs whose ``day_col`` values differ by at most ``window`` days —
    the rolling-crawl dedup shape (a re-crawl is only a duplicate of a
    RECENT snapshot; a page legitimately re-published a year later is a
    new document).

    Each doc enters TWO time buckets (``day // window`` and the next
    one), so any pair within ``window`` days shares at least one bucket
    (consecutive-bucket pigeonhole — LOSSLESS, proof: d2-d1 <= W implies
    d2//W <= d1//W + 1); the exact ``|Δday| <= window`` filter then runs
    on the bucket-joined candidates. Scale: the band self-join gains the
    bucket equi-key, cutting candidate volume by ~(corpus lifetime /
    window) — the term that otherwise grows quadratically as a crawl
    store accumulates years of snapshots."""
    # the crawl day rides the signature as a passthrough column (r11):
    # joining a separate (id, day) projection back onto the banded table
    # cost a full shuffle of both sides + a second docs scan for a
    # column that was on the doc row all along
    sig = minhash_signatures(docs, k, id_col, text_col, n,
                             passthrough=[day_col])
    bucketed = (band_signatures(sig, bands, rows, id_col,
                                passthrough=[day_col])
                .select(
                    F.col(id_col), "band", "key",
                    F.col(day_col).alias("_day"),
                    F.explode(F.array(
                        F.floor(F.col(day_col) / window),
                        F.floor(F.col(day_col) / window) + 1)).alias("_tb")))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a._tb") == F.col("b._tb"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .filter(F.abs(F.col("a._day") - F.col("b._day")) <= window)
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct()
            .persist())
    cand.count()
    return verify_pairs(docs, cand, threshold, id_col, text_col, n)


def sorted_neighborhood_pairs(docs: DataFrame, threshold: float = 0.3,
                              window: int = 3, key_len: int = 12,
                              id_col: str = "doc_id", text_col: str = "text",
                              n: int = 3) -> DataFrame:
    """Multi-pass sorted-neighborhood near-dup (Hernández & Stolfo 1995) —
    the classic entity-resolution blocking alternative to LSH: sort the
    corpus by a cheap blocking key and compare each record only to its
    ``window - 1`` successors. Two passes with complementary keys (the
    normalized text PREFIX, then the REVERSED-text prefix ≈ the suffix)
    so a dup whose edit falls inside one key region is still caught by
    the other — the standard multi-pass answer to SNM's boundary misses.

    Scale shape: each pass is one hash-partitioned window over (key,
    id) — no global sort, no SinglePartition — emitting <= window-1
    candidate rows per doc, O(n·w) candidates total regardless of key
    collisions' shape. Verification reuses `verify_pairs` (exact Jaccard,
    candidates only). Deterministic end to end, so exact-SQL-oracle-able
    — unlike MinHash this family has no probabilistic recall knob; its
    recall is set by the key choice, which is the documented trade."""
    # NULL-text docs are dropped, same discipline as minhash_signatures:
    # they would all share a NULL blocking key, pair with each other in
    # the window, and verify at jaccard 1.0 ([NULL] ∩ [NULL]) — spurious
    # "duplicates" between unrelated empty rows
    docs = docs.filter(F.col(text_col).isNotNull())
    norm = F.lower(F.col(text_col))
    cand = None
    for key in (F.substring(norm, 1, key_len),
                F.substring(F.reverse(norm), 1, key_len)):
        keyed = docs.select(F.col(id_col), key.alias("snm_key"))
        w = W.partitionBy("snm_key").orderBy(id_col)
        # window exprs can't sit inside a generator: materialize the
        # neighbor array first, explode in a second projection
        nbrs = keyed.select(
            F.col(id_col).alias("id_a"),
            F.array(*[F.lead(id_col, i).over(w)
                      for i in range(1, window)]).alias("_nbrs"))
        c = (nbrs.select("id_a", F.explode("_nbrs").alias("id_b"))
             .filter(F.col("id_b").isNotNull()))
        cand = c if cand is None else cand.unionByName(c)
    cand = cand.distinct().persist()
    cand.count()
    return verify_pairs(docs, cand, threshold, id_col, text_col, n)


def incremental_neardup(new_docs: DataFrame, stored_docs: DataFrame,
                        stored_sig: DataFrame | None = None,
                        threshold: float = 0.5, k: int = 16,
                        bands: int = 4, rows: int = 4,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """Incremental near-dup: pairs (jaccard >= threshold) involving at
    least one NEW doc — the daily-crawl shape, where a fresh batch is
    checked against an already-signed corpus without re-hashing it.

    ``stored_sig`` is the persisted signature table from previous runs
    (columns id + mh0..mh{k-1}, e.g. written by minhash_signatures); pass
    None to derive it from stored_docs (first run). The new batch's band
    table BROADCASTS (a daily batch is tiny against the corpus), so the
    candidate join streams the stored band table map-side — the stored
    corpus is never shuffled, and only candidate docs are re-read for
    verification. New-vs-new pairs are found too (the target side includes
    the new batch).

    Append ``minhash_signatures(new_docs)`` to the signature store after
    each run to keep the cycle going."""
    # materialized: new_sig feeds its own banding AND the stored-union
    # side — two subplans would otherwise re-shingle the new batch twice
    new_sig = minhash_signatures(new_docs, k, id_col,
                                 text_col, n).localCheckpoint()
    if stored_sig is None:
        stored_sig = minhash_signatures(stored_docs, k, id_col, text_col, n)
    cand = incremental_candidate_pairs(new_sig, stored_sig, bands, rows,
                                       id_col).persist()
    cand.count()
    docs_all = stored_docs.unionByName(new_docs)
    return verify_pairs(docs_all, cand, threshold, id_col, text_col, n)


def incremental_candidate_pairs(new_sig: DataFrame, stored_sig: DataFrame,
                                bands: int = 4, rows: int = 4,
                                id_col: str = "doc_id") -> DataFrame:
    """LSH candidates involving at least one NEW doc: the new batch's band
    table BROADCASTS against the bands of stored ∪ new, so the stored
    band table streams map-side and is never shuffled. Emits distinct
    (id_a, id_b), id_a < id_b, new-vs-new pairs included."""
    bn = band_signatures(new_sig, bands, rows, id_col).alias("a")
    bt = band_signatures(stored_sig.unionByName(new_sig), bands, rows,
                         id_col).alias("b")
    return (F.broadcast(bn)
            .join(bt, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.key") == F.col("b.key"))
                  & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")))
            .select(F.least(F.col(f"a.{id_col}"),
                            F.col(f"b.{id_col}")).alias("id_a"),
                    F.greatest(F.col(f"a.{id_col}"),
                               F.col(f"b.{id_col}")).alias("id_b"))
            .distinct())


# -- SimHash ---------------------------------------------------------------------------


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id",
            text_col: str = "text", n: int = 3) -> DataFrame:
    """Per-doc SimHash: each shingle votes ±1 on every bit of its 32-bit
    hash; the sign vector packs into one integer fingerprint. Near-dup docs
    differ in few bits (Hamming distance).

    Row-local like :func:`minhash_signatures`: the distinct-shingle array
    hashes once per shingle, then the per-bit ±1 votes fold inside the row
    (``F.aggregate``) — no explode, no 32-column shuffle. Integer votes are
    exactly associative, so this is bit-identical to the grouped form
    (NULL-text docs dropped, as the grouped form did naturally)."""
    if bits > 32:
        raise ValueError(
            f"simhash: bits={bits} exceeds the 32-bit base hash — bits "
            "32+ would be identically zero for every doc, degenerating "
            "any banded join over the high blocks into a cross product")
    docs = docs.filter(F.col(text_col).isNotNull())
    hashed = (tokenized(docs, id_col, text_col)
              .select(F.col(id_col),
                      shingles_from_tokens(F.col("_toks"), n).alias("_sh"))
              .select(F.col(id_col),
                      F.transform("_sh", lambda s: _hash32(s)).alias("_h")))

    def vote(j: int) -> Column:
        return F.aggregate(
            "_h", F.lit(0),
            lambda acc, x: acc + F.when(
                x.bitwiseAND(F.lit(1 << j)) != 0, 1).otherwise(-1))

    packed = None
    for j in range(bits):
        term = F.when(vote(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
        packed = term if packed is None else packed + term
    return hashed.select(F.col(id_col), packed.cast("long").alias("simhash"))


# -- embedding-cosine near-dup --------------------------------------------------


def _unit_vectors(corpus: DataFrame, id_col: str, vec_col: str,
                  out_col: str = "uvec") -> DataFrame:
    """(id, unit-normalized double vector) — norm computed once per row in
    its own projection (inside a single transform() it would re-fold per
    element: 64 norms/row instead of 1).

    Zero-norm vectors are DROPPED: dividing by 0 would yield NaN
    components, and Spark orders NaN above every double, so
    ``dot(ua, ub) >= threshold`` would be TRUE for every pair touching a
    zero vector — spurious near-dup pairs, with NaN semantics that differ
    between engines. A zero embedding has no direction; it cannot be
    cosine-similar to anything."""
    from .similarity import norm
    return (corpus
            .select(F.col(id_col), F.col(vec_col).alias("_v"),
                    norm(F.col(vec_col)).alias("_n"))
            .filter(F.col("_n") > 0)
            .select(F.col(id_col),
                    F.transform("_v", lambda x: x.cast("double") / F.col("_n"))
                    .alias(out_col)))


def embedding_neardup(corpus: DataFrame, threshold: float = 0.45,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Exact embedding-cosine near-dup: every pair with cosine >= threshold,
    as (id_a, id_b) with id_a < id_b. Vectors are unit-normalized once, so
    each pair costs a single dot product.

    This is the exact baseline (O(n^2) pair scan via broadcast
    nested-loop); the 100 TB path is :func:`embedding_neardup_lsh`, which
    prunes candidates with banded hyperplane signatures first. Integer-only
    output keeps the oracle hash stable; the threshold compare is
    double-precision with data margins >> float noise."""
    a = _unit_vectors(corpus, id_col, vec_col).select(
        F.col(id_col).alias("id_a"), F.col("uvec").alias("ua"))
    b = _unit_vectors(corpus, id_col, vec_col).select(
        F.col(id_col).alias("id_b"), F.col("uvec").alias("ub"))
    from .similarity import dot
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .filter(dot(F.col("ua"), F.col("ub")) >= threshold)
            .select("id_a", "id_b"))


def _band_keys_udf(planes, bands: int, rows: int):
    """ALL hyperplane band keys in one Arrow-batched GEMM, shared by
    every banded-LSH operator: the expression form (one zip_with fold
    per plane = bands*rows dim-literal trees) costs Catalyst seconds of
    analysis/codegen per query and evaluates interpreted per element —
    the measured trade documented at similarity.nearest_centroid.
    Sign-packs the (n x bands*rows) sign matrix into one int64 key per
    band; same planes + same ``>= 0`` sign + same ``<< ri`` bit order as
    the expression form, so signatures are bit-identical."""
    from pyspark.sql.functions import pandas_udf

    P = np.asarray(planes, dtype="float64")             # (bands*rows, dim)

    @pandas_udf("array<long>")
    def _band_keys(vecs: pd.Series) -> pd.Series:
        X = np.asarray(vecs.tolist(), dtype="float64")   # (n, dim)
        S = (X @ P.T) >= 0.0                             # (n, bands*rows)
        keys = np.zeros((len(X), bands), dtype="int64")
        for bi in range(bands):
            for ri in range(rows):
                keys[:, bi] |= S[:, bi * rows + ri].astype("int64") << ri
        return pd.Series([row.tolist() for row in keys])

    return _band_keys


def embedding_neardup_lsh(corpus: DataFrame, threshold: float = 0.45,
                          bands: int = 4, rows: int = 4,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Approximate embedding near-dup at scale: banded random-hyperplane
    signatures (bands x rows planes; same band-key trick as MinHash-LSH)
    generate candidate pairs, exact cosine verifies >= threshold.

    Candidate probability for a pair at angular similarity p = (1 - θ/π)
    is 1-(1-p^rows)^bands — recall/cost tuned by (bands, rows). The
    self-join is on (band, key) equality, so the plan is a hash join over
    bucket keys, never an n^2 scan; verification touches candidate ids
    only (same shape as :func:`minhash_lsh_neardup`)."""
    from .similarity import _dim_of, _hyperplanes, dot
    dim = _dim_of(corpus, vec_col, "embedding_neardup_lsh")
    planes = _hyperplanes(bands * rows, dim)
    # materialized: `unit` feeds the banded projection AND both sides of
    # the verification join — three separate subplans would otherwise
    # re-scan and re-normalize the corpus three times
    unit = _unit_vectors(corpus, id_col, vec_col).localCheckpoint()

    # one Arrow GEMM for all band keys (shared kernel; bit-identical to
    # the per-plane expression form it replaced, which inlined
    # bands*rows dim-literal trees into the plan)
    banded = (unit.select(
        F.col(id_col),
        F.posexplode(_band_keys_udf(planes, bands, rows)(F.col("uvec")))
        .alias("band", "key")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    ua = unit.select(F.col(id_col).alias("id_a"), F.col("uvec").alias("ua"))
    ub = unit.select(F.col(id_col).alias("id_b"), F.col("uvec").alias("ub"))
    return (cand.join(ua, "id_a").join(ub, "id_b")
            .filter(dot(F.col("ua"), F.col("ub")) >= threshold)
            .select("id_a", "id_b"))


# -- near-dup clustering (connected components) -------------------------------


def _cc_driver_union_find(p: DataFrame, pdf: "pd.DataFrame") -> DataFrame:
    """The driver leg of :func:`connected_components`: classic
    union-find with path compression over the collected (a, b) pairs,
    labels = component minimum (by definition of reachability, the
    star leg's label too). ``p`` supplies the session and the id type;
    ``pdf`` is its collected pandas frame. Python orders str by code
    point, which is the UTF-8 byte order Spark compares strings by. One
    Arrow createDataFrame back out — the label table stays a DataFrame,
    so downstream joins/windows are unchanged."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:            # path compression
            parent[x], x = root, parent[x]
        return root

    us, vs = pdf["a"].tolist(), pdf["b"].tolist()
    for a in us:
        parent.setdefault(a, a)
    for b in vs:
        parent.setdefault(b, b)
    for a, b in zip(us, vs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    cmin: dict = {}
    for v in parent:
        r = find(v)
        if r not in cmin or v < cmin[r]:
            cmin[r] = v
    out = pd.DataFrame({"doc_id": list(parent),
                        "cluster_id": [cmin[find(v)] for v in parent]})
    schema = T.StructType([
        T.StructField("doc_id", p.schema[0].dataType),
        T.StructField("cluster_id", p.schema[0].dataType)])
    return p.sparkSession.createDataFrame(out, schema)


def _cc_star(p: DataFrame, max_iter: int) -> DataFrame:
    """The distributed leg of :func:`connected_components`: alternating
    LARGE-STAR / SMALL-STAR (Kiveris et al. 2014, "Connected Components
    in MapReduce and Beyond") over the checkpointed, NULL-free (a, b)
    pairs ``p``. Its O(log^2 n) rounds do not grow with a component's
    DIAMETER (billion-doc chains do happen in crawl dedup):

    - large-star: every node links its larger neighbors to its local
      minimum (min of itself and its neighborhood);
    - small-star: every node links its smaller-or-equal neighbors and
      itself to that local minimum.

    Both operations preserve connectivity and strictly shrink the
    potential; at fixpoint the edge set is a star forest — every node
    points at its component minimum. Each half-round is one
    neighbor-min aggregation + one join, both on the node key — no
    collect, lineage truncated per round. Convergence = edge multiset
    unchanged (order-free count + xor-hash checksum, a 2-value
    aggregate per round); more than ``max_iter`` rounds raises."""
    e = p.filter(F.col("a") != F.col("b"))
    # vertices appearing ONLY in self-pairs (a == b) come out as their
    # own singleton clusters, as the driver leg labels them
    selfs_only = (p.filter(F.col("a") == F.col("b"))
                  .select(F.col("a").alias("doc_id")).distinct())
    if e.isEmpty():
        return selfs_only.select(
            "doc_id", F.col("doc_id").alias("cluster_id"))

    def _sig(edges: DataFrame) -> tuple:
        # pmod folds the full-range hash into [0, 2^31) so the sum can't
        # overflow a long under ANSI mode (n_edges * 2^31 << 2^63)
        r = (edges.agg(
            F.count("*").alias("n"),
            F.sum(F.pmod(F.xxhash64("a", "b"),
                         F.lit((1 << 31) - 1))).alias("h")).collect()[0])
        return (r["n"], r["h"])

    def _halfround(edges: DataFrame, large: bool) -> DataFrame:
        # full neighbor view: every undirected edge seen from both ends
        nbr = edges.union(edges.select(F.col("b").alias("a"),
                                       F.col("a").alias("b")))
        mins = (nbr.groupBy("a")
                .agg(F.least(F.first("a"), F.min("b")).alias("m")))
        j = nbr.join(mins, "a")
        if large:
            out = (j.filter(F.col("b") > F.col("a"))
                   .select(F.col("b").alias("a"), F.col("m").alias("b")))
        else:
            out = (j.filter(F.col("b") <= F.col("a"))
                   .select(F.col("b").alias("a"), F.col("m").alias("b"))
                   .union(mins.select(F.col("a"), F.col("m").alias("b"))))
        return (out.filter(F.col("a") != F.col("b"))
                .distinct().localCheckpoint())

    sig = _sig(e.select(F.least("a", "b").alias("a"),
                        F.greatest("a", "b").alias("b")).distinct())
    for _ in range(max_iter):
        e = _halfround(e, large=True)
        e = _halfround(e, large=False)
        new_sig = _sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"large-star/small-star rounds")
    roots = e.select(F.col("b").alias("doc_id"),
                     F.col("b").alias("cluster_id")).distinct()
    labeled = (e.select(F.col("a").alias("doc_id"),
                        F.col("b").alias("cluster_id"))
               .union(roots).distinct())
    singletons = (selfs_only.join(labeled, "doc_id", "left_anti")
                  .select("doc_id", F.col("doc_id").alias("cluster_id")))
    return labeled.unionByName(singletons)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 25,
                         driver_cap: int = 1_000_000) -> DataFrame:
    """Cluster near-dup pairs into connected components: (doc_id,
    cluster_id) where cluster_id is the minimum doc id reachable through
    the pair graph — the canonical-representative step every dedup
    pipeline runs after pair generation (keep cluster_id, drop the rest).
    Every vertex of some pair is emitted; one that appears only in
    self-pairs is its own cluster. A pair with a NULL id is dropped: a
    NULL key matches nothing, as in ``etl.keyed_upsert``.

    The projected pairs are checkpointed once and sized in one
    aggregate, then take one of two legs with identical labels:

    - DRIVER UNION-FIND (:func:`_cc_driver_union_find`) for up to
      ``driver_cap`` pairs whose two id columns share one integral
      type, or are both strings holding at most ``16 * driver_cap``
      bytes. Verified near-dup pairs are a thin slice of any corpus
      (the candidate generators bound them): one Arrow collect, an
      O(E α(E)) union-find and one Arrow createDataFrame back — about
      4 Spark jobs in all, where each distributed round costs several.
    - LARGE-STAR / SMALL-STAR (:func:`_cc_star`) for everything else:
      rounds independent of component diameter, ``max_iter`` of them
      at most (more raises).

    Memory contract: the driver leg holds up to ``driver_cap`` pairs,
    ~16 MB per million pairs of 8-byte ids, and string ids get the same
    16 bytes per pair by their UTF-8 length. Size ``driver_cap`` to the
    driver's memory budget, or pass ``driver_cap=0`` on a
    memory-constrained driver to keep every call distributed (which is
    what :func:`connected_components_star` does)."""
    from pyspark.sql import types as T

    # materialize the pair table ONCE: both legs read it more than once,
    # and an expensive pairs pipeline (LSH join, fingerprint index, ...)
    # would otherwise execute per read. isNotNull rather than dropna:
    # a checkpoint keeps its plan's constraints, and dropna's would ride
    # into every star round's plan (one more job per call, measured)
    p = (pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
         .localCheckpoint())
    typ = p.schema[0].dataType
    integral = isinstance(typ, T.IntegralType)
    string = typ == T.StringType()
    if driver_cap > 0 and (integral or string) and typ == p.schema[1].dataType:
        size = [F.count(F.lit(1)).alias("n")]
        if string:
            size.append(F.sum(F.octet_length("a") + F.octet_length("b"))
                        .alias("bytes"))
        stats = p.agg(*size).first()
        if stats["n"] <= driver_cap and (
                integral or (stats["bytes"] or 0) <= 16 * driver_cap):
            return _cc_driver_union_find(p, p.toPandas())
    return _cc_star(p, max_iter)


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iter: int = 25) -> DataFrame:
    """:func:`connected_components` held to its distributed leg
    (``driver_cap=0``): alternating large-star/small-star rounds
    (:func:`_cc_star`) at any input size, with the same output contract
    and the same labels."""
    return connected_components(pairs, id_a, id_b, max_iter, driver_cap=0)


def canonical_selection(docs: DataFrame, clusters: DataFrame,
                        score_col: str = "n_chars",
                        id_col: str = "doc_id",
                        clusters_id_col: str | None = None) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster,
    keep the doc with the BEST score (desc, id asc tiebreak) — the step
    after clustering where a dedup pipeline decides which copy survives.
    Picking by quality instead of by lowest id keeps the longest /
    cleanest variant of each duplicated page.

    ``clusters`` is :func:`connected_components` output; docs absent from
    it (singletons) are their own cluster and their own canonical. One
    left join + one window on cluster_id (clusters are small groups, so
    the window shuffle is well-distributed).

    ``clusters_id_col`` names the clusters frame's id column; the default
    takes its FIRST column (connected_components emits (doc_id,
    cluster_id)), so a custom ``id_col`` on docs works without also
    renaming the clusters side.

    Scale shape: docs NOT in any cluster (the overwhelming majority of a
    real corpus — near-dups are a thin slice) are their own canonical by
    definition, so they take a pure projection off the left join; only
    the clustered slice goes through the per-cluster window. The corpus
    is never shuffled on cluster_id (AQE picks broadcast for the join
    when the cluster table fits, the usual case).

    Returns (id, cluster_id, canonical_id, is_canonical)."""
    from pyspark.sql.window import Window as W
    cid = clusters_id_col or clusters.columns[0]
    joined = (docs.join(clusters.withColumnRenamed(cid, id_col),
                        id_col, "left")
              .select(F.col(id_col), F.col("cluster_id"), F.col(score_col)))
    singles = (joined.filter(F.col("cluster_id").isNull())
               .select(F.col(id_col),
                       F.col(id_col).alias("cluster_id"),
                       F.col(id_col).alias("canonical_id")))
    w = W.partitionBy("cluster_id").orderBy(F.col(score_col).desc(),
                                            F.col(id_col))
    grouped = (joined.filter(F.col("cluster_id").isNotNull())
               .select(F.col(id_col), "cluster_id",
                       F.first(id_col).over(w).alias("canonical_id")))
    return (singles.unionByName(grouped)
            .withColumn("is_canonical",
                        F.col(id_col) == F.col("canonical_id")))


# -- semantic dedup (SemDeDup shape) ------------------------------------------


def _assigned_units(corpus: DataFrame, cents: list[list[float]],
                    id_col: str, vec_col: str) -> DataFrame:
    """(id, centroid_id, uvec) in ONE corpus pass (r11): nearest-centroid
    assignment (raw vector — the same squared-euclidean metric k-means
    fit with) and unit normalization live on the same row, so computing
    them in one projection replaces the previous assign-then-join-units
    form, which scanned the corpus twice (one ArrowEvalPython pass + one
    normalize pass) and paid a join exchange to glue columns back
    together. Zero-norm vectors drop exactly as _unit_vectors dropped
    them (the inner join used to drop their assignment rows)."""
    from .similarity import nearest_centroid, norm
    return (corpus
            .select(F.col(id_col),
                    nearest_centroid(cents)(F.col(vec_col))
                    .alias("centroid_id"),
                    F.col(vec_col).alias("_v"),
                    norm(F.col(vec_col)).alias("_n"))
            .filter(F.col("_n") > 0)
            .select(F.col(id_col), "centroid_id",
                    F.transform("_v",
                                lambda x: x.cast("double") / F.col("_n"))
                    .alias("uvec")))


def semantic_dedup(corpus: DataFrame, k: int = 8, threshold: float = 0.9,
                   iters: int = 3, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    k-means cluster the embeddings, then inside each cluster drop every
    vector whose cosine to a LOWER-id cluster-mate is >= threshold — the
    lowest id is the kept canonical copy, so the rule is deterministic and
    one representative always survives per near-dup set.

    Returns (id, centroid_id, keep) for every non-zero-norm vector.

    Scale: the pairwise scan is confined to clusters (equi-join on
    centroid_id, never an all-pairs product), which is the whole point of
    SemDeDup — at corpus scale k grows with n (n/k ~ thousands) so each
    cluster's quadratic term stays bounded, and clusters compare in
    parallel. Assignment broadcasts only the k x dim centroid matrix."""
    import numpy as np
    import pandas as pd

    from .similarity import kmeans_fit
    cents = kmeans_fit(corpus, k=k, iters=iters,
                       id_col=id_col, vec_col=vec_col)
    # referenced twice below (the grouped pairwise scan + the final
    # keep-flag join) — persist so assignment runs once. One corpus
    # pass computes assignment AND unit vectors (r11, _assigned_units).
    assigned = _assigned_units(corpus, cents, id_col, vec_col).persist()

    # In-cluster pairwise scan as ONE numpy GEMM per cluster
    # (applyInPandas): each unit vector crosses Arrow once, vs once per
    # PAIR in a self-join formulation — and the |cluster|^2 dot products
    # run as a single BLAS call instead of interpreted per-element
    # higher-order-function expressions. A cluster fits in one worker by
    # construction (SemDeDup grows k with n so n/k stays bounded).
    def _drops(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        X = np.asarray(pdf["uvec"].tolist(), dtype=np.float64)[order]
        sims = X @ X.T
        iu = np.triu_indices(len(ids), k=1)      # row < col => lower id
        drop = np.unique(iu[1][sims[iu] >= threshold])
        return pd.DataFrame({id_col: pd.Series(ids[drop], dtype="int64")})

    drops = assigned.groupBy("centroid_id").applyInPandas(
        _drops, schema=f"{id_col} long")
    return (assigned
            .join(drops.withColumn("_drop", F.lit(True)), id_col, "left")
            .select(F.col(id_col), F.col("centroid_id"),
                    F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")))


def semantic_dedup_lsh(corpus: DataFrame, k: int = 8, threshold: float = 0.9,
                       iters: int = 3, bands: int = 8, rows: int = 4,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """:func:`semantic_dedup` with the in-cluster prune re-expressed as a
    banded hyperplane-LSH candidate join — the skew-proof variant. The
    exact form runs one GEMM per cluster, which assumes cluster sizes
    stay bounded; with a skewed cluster (real corpora: one dominant
    mode) that single task goes quadratic. Here candidates come from an
    equi-join on (centroid_id, band, key) — each vector appears in
    ``bands`` buckets, buckets split big clusters by signature, and the
    exact cosine verification touches candidate pairs only, so the plan
    is hash-join-shaped regardless of cluster skew.

    Same output contract as :func:`semantic_dedup`: (id, centroid_id,
    keep), lowest id in a near-dup set survives. Approximate by nature —
    a pair missed by every band stays unpruned (recall tuned by
    (bands, rows); at cos 0.9, 8x4 gives ~0.998 candidate recall) — so
    keep-flags are a superset of the exact operator's."""
    from .similarity import _dim_of, _hyperplanes, dot, kmeans_fit
    dim = _dim_of(corpus, vec_col, "semantic_dedup_lsh")
    cents = kmeans_fit(corpus, k=k, iters=iters,
                       id_col=id_col, vec_col=vec_col)
    # one corpus pass for assignment + unit vectors (r11, see
    # _assigned_units)
    assigned = _assigned_units(corpus, cents, id_col, vec_col).persist()
    planes = _hyperplanes(bands * rows, dim)
    # ALL band keys in one Arrow-batched GEMM (shared kernel — see
    # _band_keys_udf for why the expression form loses)
    banded = (assigned
              .select(F.col(id_col), "centroid_id",
                      F.posexplode(
                          _band_keys_udf(planes, bands, rows)(F.col("uvec")))
                      .alias("band", "key")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.centroid_id") == F.col("b.centroid_id"))
                   & (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())
    ua = assigned.select(F.col(id_col).alias("id_a"),
                         F.col("uvec").alias("ua"))
    ub = assigned.select(F.col(id_col).alias("id_b"),
                         F.col("uvec").alias("ub"))
    drops = (cand.join(ua, "id_a").join(ub, "id_b")
             .filter(dot(F.col("ua"), F.col("ub")) >= threshold)
             .select(F.col("id_b").alias(id_col)).distinct())
    return (assigned
            .join(drops.withColumn("_drop", F.lit(True)), id_col, "left")
            .select(F.col(id_col), F.col("centroid_id"),
                    F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep")))


# -- content-defined chunking (rolling-hash boundaries) -----------------------

#: Gear table: one deterministic 64-bit constant per byte value (md5-derived,
#: so any engine/runtime regenerates it identically)
def _gear_table():
    import hashlib as _h

    import numpy as _np
    vals = [int.from_bytes(_h.md5(bytes([b])).digest()[:8], "big")
            for b in range(256)]
    return _np.array(vals, dtype=_np.uint64)


_GEAR = None
_CDC_WINDOW = 64


def gear_hashes(data) -> "object":
    """Gear rolling hash at every byte position: ``H_i = (H_{i-1} << 1) +
    gear[b_i] (mod 2^64)`` — equivalently a 64-byte windowed dot product
    with powers of two, which is how it vectorizes: numpy uint64 wraps mod
    2^64 natively, so the whole blob hashes in one sliding-window
    multiply-add, no Python loop over bytes."""
    global _GEAR
    import numpy as np
    if _GEAR is None:
        _GEAR = _gear_table()
    g = _GEAR[np.frombuffer(data, dtype=np.uint8)]
    if len(g) == 0:
        return np.zeros(0, dtype=np.uint64)
    pad = np.zeros(_CDC_WINDOW - 1, dtype=np.uint64)
    gp = np.concatenate([pad, g])
    win = np.lib.stride_tricks.sliding_window_view(gp, _CDC_WINDOW)
    pow2 = (np.uint64(1) << np.arange(_CDC_WINDOW - 1, -1, -1,
                                      dtype=np.uint64))
    return (win * pow2).sum(axis=1, dtype=np.uint64)


def cdc_boundaries(data: bytes, min_size: int = 128, avg_size: int = 512,
                   max_size: int = 2048) -> list[int]:
    """Content-defined chunk boundaries (FastCDC-style gear hashing):
    a boundary falls where the rolling hash has ``log2(avg_size)`` low
    zero bits, subject to min/max bounds. Because boundaries depend only
    on local CONTENT, inserting bytes early in a stream shifts offsets but
    re-synchronizes the remaining boundaries — the property that makes
    chunk-grain dedup survive edits (rsync/LBFS/backup dedup, and crawl
    re-snapshots at corpus scale)."""
    import numpy as np
    if avg_size < 2 or avg_size & (avg_size - 1):
        raise ValueError(
            f"cdc_boundaries: avg_size={avg_size} must be a power of two "
            "— the boundary test masks the low log2(avg_size) bits, and "
            "a non-power mask fires with the wrong probability (e.g. 500 "
            "-> mask 0b111110011 -> ~1/128 chunks, 4x too many)")
    n = len(data)
    if n == 0:
        return []
    mask = np.uint64(avg_size - 1)
    H = gear_hashes(data)
    hits = np.flatnonzero((H & mask) == 0) + 1   # boundary AFTER byte i
    out, last = [], 0
    for h in hits:
        if h - last < min_size:
            continue
        while h - last > max_size:               # forced max-size cuts
            last += max_size
            out.append(last)
        if h - last >= min_size:
            out.append(int(h))
            last = int(h)
    while n - last > max_size:
        last += max_size
        out.append(last)
    if last < n:
        out.append(n)
    return out


def cdc_chunk_table(blobs: DataFrame, min_size: int = 128,
                    avg_size: int = 512, max_size: int = 2048,
                    id_col: str = "doc_id") -> DataFrame:
    """Chunk every blob at content-defined boundaries: one row per chunk
    with (offset, length, md5 digest). 1 -> N via the mapInPandas iterator
    contract; hashing is the vectorized gear sweep, so the Python worker
    does numpy passes, not per-byte loops.

    Downstream, exact chunk-grain dedup is digest-keyed ``groupBy`` — the
    shuffle carries (digest, id, offset) triples, never content bytes
    (same discipline as passage_dedup)."""
    import hashlib as _h
    from typing import Iterator as _It

    import pandas as _pd

    def chunks(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, digs = [], [], [], [], []
            for did, content in zip(pdf[id_col], pdf["content"]):
                raw = bytes(content)
                prev = 0
                for ci, b in enumerate(cdc_boundaries(
                        raw, min_size, avg_size, max_size)):
                    ids.append(did)
                    idxs.append(ci)
                    offs.append(prev)
                    lens.append(b - prev)
                    digs.append(_h.md5(raw[prev:b]).hexdigest())
                    prev = b
            yield _pd.DataFrame({
                id_col: _pd.Series(ids, dtype="int64"),
                "chunk_idx": _pd.Series(idxs, dtype="int32"),
                "offset": _pd.Series(offs, dtype="int64"),
                "length": _pd.Series(lens, dtype="int64"),
                "digest": _pd.Series(digs, dtype="object"),
            })

    return blobs.mapInPandas(
        chunks, schema=(f"{id_col} long, chunk_idx int, offset long, "
                        "length long, digest string"))


def cdc_dedup_stats(blobs: DataFrame, id_col: str = "doc_id",
                    **chunk_kw) -> DataFrame:
    """Corpus-level chunk-dedup accounting: for each distinct chunk digest,
    how many copies exist and how many bytes dedup saves (copies-1 ×
    length). The single shuffle is digest-keyed and carries no content."""
    t = cdc_chunk_table(blobs, id_col=id_col, **chunk_kw)
    return (t.groupBy("digest")
            .agg(F.count("*").alias("copies"),
                 F.max("length").alias("length"),
                 ((F.count("*") - 1) * F.max("length")).alias("bytes_saved"))
            .filter(F.col("copies") > 1))


# -- exact-substring span dedup (Lee et al. 2022 shape) ------------------------


def duplicate_spans(docs: DataFrame, min_len: int = 8,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Maximal exactly-duplicated token spans, corpus-wide — the
    exact-substring dedup of "Deduplicating Training Data Makes Language
    Models Better" (Lee et al. 2022, arXiv:2107.06499), which builds a
    suffix array; the distributed equivalent marks every ``min_len``-gram
    that occurs more than once ANYWHERE in the corpus (including within
    one doc) and merges each doc's overlapping marked windows into
    maximal intervals. Returns (id, span_start, span_end, span_len) in
    token positions, span = [start, end).

    Scale shape: gram keys are md5 digests, so the one corpus-wide
    shuffle (group by gram to count occurrences) carries 16-byte keys +
    (doc, pos) ints — never text. The interval merge is the classic
    running-max window per doc (one shuffle on doc id); spans per doc
    are bounded by doc length, not corpus size. No suffix array, no
    global sort."""
    toks = (docs.select(F.col(id_col),
                        F.split(F.col(text_col), " ").alias("_t"))
            .filter(F.size("_t") >= min_len))
    grams = toks.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.size("_t") - min_len),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice("_t", i + 1, min_len)))))
        .alias("start", "gh"))
    dup = (grams.groupBy("gh").agg(F.count("*").alias("_c"))
           .filter(F.col("_c") >= 2).select("gh"))
    marked = grams.join(dup, "gh").select(id_col, "start")
    w = W.partitionBy(id_col).orderBy("start")
    prev_end = F.max(F.col("start") + min_len).over(
        w.rowsBetween(W.unboundedPreceding, -1))
    flagged = marked.select(
        F.col(id_col), "start",
        F.when(prev_end.isNull() | (F.col("start") > prev_end), 1)
        .otherwise(0).alias("_new"))
    islands = flagged.select(
        F.col(id_col), "start",
        F.sum("_new").over(w).alias("_island"))
    return (islands.groupBy(id_col, "_island")
            .agg(F.min("start").alias("span_start"),
                 (F.max("start") + min_len).alias("span_end"))
            .select(F.col(id_col), "span_start", "span_end",
                    (F.col("span_end") - F.col("span_start"))
                    .alias("span_len")))


def remove_duplicate_spans(docs: DataFrame, spans: DataFrame | None = None,
                           min_len: int = 8, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Cut every duplicated span out of the text (the Lee et al. removal
    step): tokens whose position falls inside any of the doc's spans are
    dropped, the rest rejoin with single spaces. Docs with no spans pass
    through unchanged. Pure expression tree: the per-doc span list
    aggregates to an array column and a higher-order filter tests each
    token position — no Python, no extra shuffle beyond the span join.

    NULL text coalesces to '' before tokenizing (the dedup_lines
    convention: the doc comes back with empty text and sane counts, one
    empty token kept) — split(NULL) is NULL and size(NULL) is -1, which
    would otherwise make sequence(0, -2) DESCEND and emit phantom
    kept-token counts for exactly the rows duplicate_spans drops."""
    if spans is None:
        spans = duplicate_spans(docs, min_len, id_col, text_col)
    span_arr = (spans.groupBy(id_col)
                .agg(F.collect_list(F.struct("span_start", "span_end"))
                     .alias("_spans")))
    toks = docs.select(F.col(id_col),
                       F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
                       .alias("_t"))
    joined = toks.join(span_arr, id_col, "left")
    kept = F.filter(
        F.transform(F.sequence(F.lit(0), F.size("_t") - 1),
                    lambda i: F.struct(i.alias("p"),
                                       F.element_at("_t", i + 1)
                                       .alias("tok"))),
        lambda s: ~F.exists(
            F.coalesce("_spans", F.array()),
            lambda sp: (s["p"] >= sp["span_start"])
            & (s["p"] < sp["span_end"])))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", F.transform(kept, lambda s: s["tok"]))
        .alias("text_deduped"),
        F.size(kept).alias("n_tokens_kept"),
        (F.size("_t") - F.size(kept)).alias("n_tokens_removed"))


# -- corpus-level overlap sketch ---------------------------------------------


def corpus_signature(docs: DataFrame, k: int = 16, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 3) -> DataFrame:
    """One MinHash signature for an entire CORPUS: per hash function the
    min over every shingle in the corpus (1 row, columns mh0..mh{k-1}).
    min over per-doc mins == min over the corpus shingle set, so this
    rides the row-local per-doc signature stage plus ONE aggregation with
    map-side partials — the corpus never shuffles, only k longs per task.

    The corpus-level sketch is what you persist per crawl snapshot /
    dataset release to answer "how much does release B overlap release A"
    without ever co-scanning the two."""
    sig = minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col,
                             n=n)
    return sig.agg(*[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)])


def corpus_overlap(a: DataFrame, b: DataFrame, k: int = 16,
                   id_col: str = "doc_id", text_col: str = "text",
                   n: int = 3) -> DataFrame:
    """Estimated shingle-set Jaccard between two corpora from their
    k-permutation sketches: the fraction of hash functions whose
    corpus-min agrees is an unbiased Jaccard estimate (standard MinHash
    argument, per-function collision probability = J). Integer output
    (n_equal, permille floor) keeps the result engine-bit-identical.

    Returns 1 row: (k, n_equal, jaccard_est_permille)."""
    sa = corpus_signature(a, k=k, id_col=id_col, text_col=text_col, n=n)
    sb = corpus_signature(b, k=k, id_col=id_col, text_col=text_col, n=n)
    sb = sb.select(*[F.col(f"mh{i}").alias(f"nh{i}") for i in range(k)])
    eq = sum((F.col(f"mh{i}") == F.col(f"nh{i}")).cast("int")
             for i in range(k))
    return (sa.join(F.broadcast(sb))
            .select(F.lit(k).alias("k"),
                    eq.alias("n_equal"))
            .select("k", "n_equal",
                    F.floor(F.col("n_equal") * 1000 / F.lit(k))
                    .alias("jaccard_est_permille")))


def corpus_overlap_matrix(docs: DataFrame, group_col: str = "source",
                          k: int = 16, id_col: str = "doc_id",
                          text_col: str = "text", n: int = 3) -> DataFrame:
    """Pairwise shingle-Jaccard estimates between EVERY pair of corpus
    groups (sources / releases / languages) from per-group MinHash
    sketches — the mixing-recipe diagnostic that answers "which sources
    duplicate each other" without ever co-scanning two groups. One row
    per unordered pair: (source_a, source_b, k, n_equal,
    jaccard_est_permille).

    Shape: the per-doc row-local signature stage plus ONE grouped
    aggregation (min per hash function per group — min over per-doc
    mins == min over the group's shingle set), then a pairwise join of
    the GROUP-count-sized sketch table (tiny by contract). Integer
    output, engine-bit-identical."""
    sig = minhash_signatures(docs, k=k, id_col=id_col, text_col=text_col,
                             n=n)
    grouped = (sig.join(docs.select(id_col, group_col), id_col)
               .groupBy(group_col)
               .agg(*[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)]))
    a = grouped.select(F.col(group_col).alias("source_a"),
                       *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)])
    b = grouped.select(F.col(group_col).alias("source_b"),
                       *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)])
    eq = sum((F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
             for i in range(k))
    return (a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
            .select("source_a", "source_b",
                    F.lit(k).alias("k"), eq.alias("n_equal"))
            .select("source_a", "source_b", "k", "n_equal",
                    F.floor(F.col("n_equal") * 1000 / F.lit(k))
                    .alias("jaccard_est_permille")))


# -- prefix-filtered set-similarity join (PPJoin family) ---------------------


def prefix_filter_pairs(docs: DataFrame, threshold: float = 0.2,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3) -> DataFrame:
    """EXACT Jaccard near-dup pairs via prefix filtering (the
    PPJoin/AllPairs candidate principle, Xiao et al. 2008 / Bayardo et
    al. 2007): order every doc's shingles by GLOBAL frequency (rarest
    first) and index only each doc's prefix of length
    ``|x| - ceil(t * |x|) + 1`` — any pair with Jaccard >= t MUST share
    a prefix element under a total order, so joining prefixes loses
    nothing, while the frequent shingles that generate almost all of the
    full inverted index's candidate pairs never enter the join. Same
    exact result as :func:`jaccard_pairs`; structurally fewer
    candidates (the pruning sharpens as corpora grow — frequent-shingle
    candidate lists are the quadratic term).

    Deterministic end to end (order ties broken by the shingle string),
    so an external SQL oracle verifies it exactly — the property LSH
    variants trade away.

    Shape: one shingle-keyed count (the global order), one doc-keyed
    window to rank + cut prefixes, one prefix equi-join for candidates,
    then row-local exact-Jaccard verification over candidates only
    (:func:`verify_pairs` — the corpus never hash-shuffles)."""
    # (the shingle table feeds the frequency count AND the ranking join;
    # measured: materializing it costs more than the recompute it saves
    # — both consumers shuffle it anyway, so only the scan-side
    # projection duplicates)
    sh = shingle_table(docs, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
    ranked = (sh.join(freq, "shingle")
              .withColumn("_pos", F.row_number().over(
                  W.partitionBy(id_col).orderBy("_df", "shingle")))
              .withColumn("_sz", F.count("*").over(
                  W.partitionBy(id_col))))
    # ceil(t * sz) in INTEGER arithmetic: float ceil can round a
    # mathematically-integral t*sz (e.g. t=0.2, sz=5 -> 1.0000000000000002)
    # up one, shortening the prefix below the lossless bound and silently
    # dropping boundary pairs. Quantize t to basis points and ceil via
    # (sz*t_bp + 9999) div 10000 — exact for any threshold given to 4dp.
    t_bp = round(float(threshold) * 10000)
    plen = (F.col("_sz")
            - F.floor((F.col("_sz") * F.lit(t_bp) + F.lit(9999))
                      / F.lit(10000)).cast("int") + 1)
    # materialize the prefix index before self-joining it: the join's
    # two branches are separate subplans, so the whole
    # count+join+window pipeline above would otherwise execute twice
    # (in practice the AllPairs prefix index IS a materialized artifact)
    prefix = (ranked.filter(F.col("_pos") <= plen)
              .select(id_col, "shingle", "_pos", "_sz").localCheckpoint())
    a = prefix.select(F.col(id_col).alias("id_a"),
                      F.col("_pos").alias("pa"),
                      F.col("_sz").alias("sa"), "shingle")
    b = prefix.select(F.col(id_col).alias("id_b"),
                      F.col("_pos").alias("pb"),
                      F.col("_sz").alias("sb"), "shingle")
    # LENGTH filter (Jaccard >= t ⇒ t·|x| <= |y| and t·|y| <= |x|) and
    # POSITIONAL filter (Xiao et al. 2008 §3.2): at the first common
    # shingle w (positions pa/pb under the shared global order) overlap
    # is at most 1 + min(sa - pa, sb - pb), and a qualifying pair's
    # first common shingle lies in BOTH prefixes, so OR-ing the check
    # across that pair's join events is lossless. Both prune inside the
    # join stage — BEFORE the pair-distinct shuffle — which bounds the
    # fan-out a frequent prefix shingle can emit (the skew source: a
    # template cluster's shared rare shingle emits |cluster|² events).
    # Integer arithmetic throughout (t quantized to basis points; the
    # required-overlap ceil is (t_bp·(sa+sb) + den - 1) div den with
    # den = 10000 + t_bp, from α = ceil(t/(1+t)·(|x|+|y|))).
    den = 10000 + t_bp
    alpha = F.floor((F.lit(t_bp) * (F.col("sa") + F.col("sb"))
                     + F.lit(den - 1)) / F.lit(den))
    cand = (a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter((F.col("sa") * t_bp <= F.col("sb") * 10000)
                    & (F.col("sb") * t_bp <= F.col("sa") * 10000))
            .filter(F.lit(1) + F.least(F.col("sa") - F.col("pa"),
                                       F.col("sb") - F.col("pb")) >= alpha)
            .select("id_a", "id_b").distinct()
            .persist())
    cand.count()
    return verify_pairs(docs, cand, threshold=threshold,
                        id_col=id_col, text_col=text_col, n=n)


def simhash_neardup(docs: DataFrame, max_hamming: int = 3, bands: int = 4,
                    bits: int = 32, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 3) -> DataFrame:
    """SimHash near-dup pairs the Manku-Jain-Sarma way (WWW 2007, the
    Google web-crawl dedup design): fingerprints split into ``bands``
    contiguous key blocks; two fingerprints within Hamming distance
    ``max_hamming`` < bands MUST agree exactly on at least one block
    (pigeonhole), so the banded equi-join is EXACT — candidates verify
    with one ``bit_count(a XOR b)``. The text twin of the image/video
    dHash joins: same join shape, same guarantee.

    Returns (id_a, id_b, hamming). Scale: fingerprints are row-local;
    the only shuffles are the block-key equi-join (each doc appears in
    ``bands`` buckets) and the verified-pair dedup."""
    if max_hamming >= bands:
        raise ValueError(
            f"simhash_neardup: max_hamming={max_hamming} >= bands={bands} "
            f"voids the pigeonhole guarantee — pairs may differ in every "
            f"block and be missed; raise bands above max_hamming")
    if bits % bands:
        raise ValueError(f"simhash_neardup: bits={bits} not divisible "
                         f"by bands={bands}")
    # materialize fingerprints before the self-join (two subplan
    # branches) — the bit-vote fold is the expensive stage and the
    # (id, long) table it produces is tiny
    fp = simhash(docs, bits=bits, id_col=id_col, text_col=text_col,
                 n=n).localCheckpoint()
    bb = bits // bands
    mask = (1 << bb) - 1
    keyed = fp.select(
        F.col(id_col), "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(bi).alias("band"),
                     F.shiftright("simhash", bi * bb)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for bi in range(bands)])).alias("_bk")) \
        .select(id_col, "simhash", "_bk.band", "_bk.key")
    a = keyed.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("sh_a"), "band", "key")
    b = keyed.select(F.col(id_col).alias("id_b"),
                     F.col("simhash").alias("sh_b"), "band", "key")
    return (a.join(b, ["band", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def connected_components_incremental(labels: DataFrame,
                                     new_pairs: DataFrame,
                                     id_a: str = "id_a",
                                     id_b: str = "id_b",
                                     max_iter: int = 25) -> DataFrame:
    """INCREMENTAL connected components: fold a new batch of near-dup
    pairs (today's crawl) into an existing (doc_id, cluster_id)
    assignment WITHOUT re-reading historical pairs. A stored label is
    itself connectivity evidence — doc_id ~ cluster_id — so the union of
    label-edges and the new pairs is a graph whose components equal the
    full recompute's, while its SIZE is O(docs_in_clusters + new_pairs):
    the historical pair set (quadratically larger in dense clusters, and
    possibly no longer retained) never participates.

    The update graph goes through :func:`connected_components`, so it
    takes the driver union-find under ``driver_cap`` pairs and the
    large-star/small-star rounds above it; the stored labels are
    already star-shaped, so those rounds are few even when new pairs
    bridge old clusters. Returns the updated (doc_id, cluster_id)
    covering every doc seen in either input. Exactly equal to
    recomputing over all pairs ever seen (pytest + shared oracle)."""
    label_edges = (labels
                   .filter(F.col("doc_id") != F.col("cluster_id"))
                   .select(F.col("doc_id").alias(id_a),
                           F.col("cluster_id").alias(id_b)))
    singletons = (labels
                  .filter(F.col("doc_id") == F.col("cluster_id"))
                  .select("doc_id", "cluster_id"))
    merged = connected_components(
        label_edges.unionByName(new_pairs.select(F.col(id_a), F.col(id_b))),
        id_a=id_a, id_b=id_b, max_iter=max_iter)
    # singleton clusters reappear unless their docs were touched by a
    # new pair or an old label edge
    untouched = singletons.join(merged.select("doc_id"), "doc_id",
                                "left_anti")
    return merged.unionByName(untouched)
