"""Corpus-curation queries (north-star extension): PII redaction, eval-set
decontamination, deterministic stratified sampling, token chunking, and
sequence packing over the ``documents`` table.

Oracle notes: every op here was designed to be ANSI/DuckDB-expressible —
regexes are RE2-safe, sampling hashes are md5-derived (see
operators/curation.py), chunk windows are pure integer arithmetic — so all
five queries are hash-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import load_table
from .operators import curation as C
from .queries import query


@query("curate_pii_redact", oracle="""
WITH r0 AS (SELECT doc_id, text FROM documents),
r1 AS (SELECT doc_id,
        len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n1,
        regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
       FROM r0),
r2 AS (SELECT doc_id, n1,
        len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n2,
        regexp_replace(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g') AS t
       FROM r1),
r3 AS (SELECT doc_id, n1, n2,
        len(regexp_extract_all(t, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n3,
        regexp_replace(t, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS t
       FROM r2),
r4 AS (SELECT doc_id, n1, n2, n3,
        len(regexp_extract_all(t, '\\+?\\d([ ().-]{0,2}\\d){8,14}')) AS n4,
        regexp_replace(t, '\\+?\\d([ ().-]{0,2}\\d){8,14}', '<PHONE>', 'g') AS t
       FROM r3)
SELECT doc_id, n1 + n2 + n3 + n4 AS n_pii, md5(t) AS red_digest
FROM r4 ORDER BY doc_id
""")
def curate_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking over the corpus: per-doc match count + digest of the
    redacted text (digest, not the text itself, keeps the result narrow).

    Pure projection — regexp_count + chained regexp_replace inside
    whole-stage codegen; the oracle chains the identical RE2-safe patterns.
    The synthetic corpus contains no PII (n_pii = 0 everywhere), so the
    hash check proves the pass-through path; the positive path is covered
    by unit tests on crafted rows (tests/test_curation.py)."""
    docs = load_table(spark, sf_dir, "documents")
    red = C.pii_redact(docs)
    return (red.select("doc_id", "n_pii",
                       F.md5("redacted").alias("red_digest")))


@query("curate_decontaminate", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 3), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 3, 1) + 1)) AS u(i)),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
FROM grams g JOIN ev USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id ORDER BY g.doc_id
""")
def curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: training docs (id % 97 != 0) sharing any
    4-gram with the held-out eval slice (id % 97 == 0), with the count of
    distinct shared grams. (Real corpora use 8+ grams — the operator's
    default; the synthetic corpus's tiny vocabulary needs n=4 for the
    check to catch anything.)

    The eval side's distinct grams broadcast (eval benchmarks are tiny
    against a pretraining corpus); the train side explodes once and only
    matched grams reach the per-doc aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return C.decontaminate(train, ev, n=4)


@query("curate_stratified_sample", oracle="""
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 10000
      < CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2000 ELSE 500 END
ORDER BY doc_id
""")
def curate_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing sample: keep 50% of English, 20% of Chinese, 5% of
    everything else, decided by a deterministic md5 hash of doc_id — the
    same rows survive on every run and in every engine (no rand()).

    Projection + filter only; at 100 TB this is the map-side mixing pass
    that runs fused with whatever reads the corpus next."""
    docs = load_table(spark, sf_dir, "documents")
    out = C.stratified_sample(docs, {"en": 0.5, "zh": 0.2},
                              strata_col="lang", key_col="doc_id",
                              default_rate=0.05)
    return out.select("doc_id", "lang")


@query("curate_chunk_tokens", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (SELECT doc_id, t,
             greatest(CAST(ceil((len(t) - 16) / 48.0) AS BIGINT), 1) AS ns
      FROM toks)
SELECT doc_id, i AS chunk_idx,
       len(list_slice(t, i * 48 + 1, i * 48 + 64)) AS n_tokens,
       md5(array_to_string(list_slice(t, i * 48 + 1, i * 48 + 64), ' '))
         AS chunk_digest
FROM s, UNNEST(range(0, ns)) AS u(i)
ORDER BY doc_id, chunk_idx
""")
def curate_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window shaping: 64-token chunks with 16-token overlap per
    doc (digest + length per chunk; the digest keeps the checked result
    narrow).

    Row-local expansion (sequence/slice/posexplode) — no shuffle; the
    chunk arithmetic is pure integers so the oracle reproduces it
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    out = C.chunk_tokens(docs, max_tokens=64, overlap=16)
    return (out.select("doc_id", "chunk_idx", "n_tokens",
                       F.md5("chunk").alias("chunk_digest")))


@query("curate_pack_greedy", oracle="""
SELECT doc_id, source,
       len(string_split(text, ' ')) AS n_tokens,
       CAST(floor((sum(len(string_split(text, ' ')))
                     OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - len(string_split(text, ' '))) / 512.0) AS BIGINT) AS bin
FROM documents ORDER BY doc_id
""")
def curate_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: docs are packed in id order within each
    source; a bin closes at 512 tokens (contiguous cumulative packing).

    One shuffle (window on source); packing parallelizes across sources —
    the 100 TB recipe is shard-then-pack, and this IS the per-shard pack."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.pack_greedy(docs, max_tokens=512, group_col="source"))


@query("text_repetition_stats", oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, t,
       list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                      i -> array_to_string(list_slice(t, i, i + 2), ' ')) AS g3
      FROM s)
SELECT doc_id, len(t) AS n_tokens,
       len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS distinct_ratio,
       list_max(list_transform(list_distinct(t),
                               x -> len(list_filter(t, y -> y = x))))
         / CAST(len(t) AS DOUBLE) AS top_token_frac,
       1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE) AS dup_3gram_frac
FROM g ORDER BY doc_id
""")
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition quality signals per doc: distinct-token
    ratio, most-frequent-token share, duplicate-3-gram fraction.

    Row-local array algebra, no shuffle; every ratio is an int/int
    division so both engines produce bit-identical doubles — no rounding
    needed."""
    from .operators.text import repetition_stats
    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


@query("text_lm_score", oracle="""
WITH toks AS (SELECT doc_id,
                     UNNEST(string_split(coalesce(text, ''), ' ')) AS tok
              FROM documents),
freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS t FROM freq),
lm AS (SELECT tok,
              CAST(floor(ln(c / CAST(t AS DOUBLE)) * 1000000000 + 0.5)
                   AS BIGINT) AS nano
       FROM freq, tot),
-- OOV floor mirrors lm_score's default: ln(half the rarest in-vocab
-- probability). The model trains on the scored corpus here, so the
-- branch never fires on this fixture — it exists so the LEFT JOIN
-- below matches the operator's never-drop-a-doc contract exactly.
oov AS (SELECT CAST(floor(ln(min(c / CAST(t AS DOUBLE)) * 0.5)
                          * 1000000000 + 0.5) AS BIGINT) AS nano
        FROM freq, tot)
SELECT doc_id,
       floor(((sum(coalesce(lm.nano, oov.nano)) / count(*))
              / 1000000000) * 1000000 + 0.5)
         / 1000000 AS avg_logprob,
       count(*) AS n_scored
FROM toks LEFT JOIN lm USING (tok), oov
GROUP BY doc_id ORDER BY doc_id
""")
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score: mean token log-probability per doc (the
    cheap perplexity proxy every corpus filter starts with).

    Two passes by design — build the model (vocabulary-wide shuffle),
    broadcast it, score the stream (per-doc aggregation). Per-token ln(p)
    is quantized to integer nano-units inside lm_score, so the per-doc
    mean is fold-order-free and bit-identical across engines; the final
    1e-6 rounding can't flake."""
    from .operators.text import lm_score, unigram_lm
    docs = load_table(spark, sf_dir, "documents")
    # the OOV floor's min_p rides the model build's materialization
    # action (r12) — lm_score skips its probe action
    lm, min_p = unigram_lm(docs)
    out = lm_score(docs, lm, min_p=min_p)
    # no presentational global orderBy (r8 sweep) — see
    # curate_dsir_weights
    return out.select(
        "doc_id",
        (F.floor(F.col("avg_logprob") * 1000000 + F.lit(0.5)) / 1000000)
        .alias("avg_logprob"),
        "n_scored")


@query("text_bigram_lm_score", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
tr AS (SELECT * FROM toks WHERE doc_id % 3 <> 0),
uni AS (SELECT w, count(*) AS c
        FROM (SELECT unnest(t) AS w FROM tr) GROUP BY w),
tot AS (SELECT sum(c) AS tt FROM uni),
bi AS (SELECT w1, w2, count(*) AS c12 FROM (
         SELECT t[i] AS w1, t[i + 1] AS w2
         FROM tr, UNNEST(range(1, len(t))) AS u(i)) GROUP BY w1, w2),
bim AS (SELECT w1, w2,
               CAST(floor(ln(c12 / CAST(c AS DOUBLE)) * 1000000000 + 0.5)
                    AS BIGINT) AS lnp
        FROM bi JOIN uni ON bi.w1 = uni.w),
bom AS (SELECT w,
               CAST(floor(ln(0.4 * c / CAST(tt AS DOUBLE)) * 1000000000
                          + 0.5) AS BIGINT) AS lnp
        FROM uni, tot),
pairs AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
          FROM toks, UNNEST(range(1, len(t))) AS u(i)
          WHERE len(t) >= 2),
sc AS (SELECT p.doc_id,
              COALESCE(bm.lnp, bo.lnp, -30000000000) AS nano
       FROM pairs p
       LEFT JOIN bim bm ON p.w1 = bm.w1 AND p.w2 = bm.w2
       LEFT JOIN bom bo ON p.w2 = bo.w)
SELECT doc_id,
       floor(((CAST(sum(nano) AS BIGINT) / count(*)) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS avg_logprob,
       count(*) AS n_scored
FROM sc GROUP BY doc_id ORDER BY doc_id
""")
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM with stupid backoff (Brants et al. 2007), trained on the
    2/3 split (doc_id % 3 != 0) and scoring the WHOLE corpus — held-out
    docs exercise the backoff and OOV-floor paths, which scoring the
    training set alone never would. Sharper than the unigram proxy:
    scrambled word order scores as the gibberish it is.

    Model log-probs are nano-quantized at BUILD time, so scoring is two
    equi-joins + an integer per-doc aggregation (fold-order-free,
    bit-identical across engines)."""
    from .operators.text import bigram_lm, bigram_score
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 3 != 0)
    bigrams, backoff = bigram_lm(train, alpha=0.4)
    out = bigram_score(docs, bigrams, backoff, floor_logprob=-30.0)
    # no presentational global orderBy (r8 sweep) — see
    # curate_dsir_weights
    return out.select(
        "doc_id",
        (F.floor(F.col("avg_logprob") * 1000000 + F.lit(0.5)) / 1000000)
        .alias("avg_logprob"),
        "n_scored")


@query("corpus_profile", oracle="""
WITH d AS (SELECT lang, n_chars, string_split(text, ' ') AS t
           FROM documents),
e AS (SELECT lang, n_chars, len(t) AS ntok,
             CAST(floor(1000000000.0 * len(list_distinct(t)) / len(t) + 0.5)
                  AS BIGINT) AS dr_nano
      FROM d)
SELECT lang, count(*) AS n_docs,
       CAST(sum(ntok) AS BIGINT) AS total_tokens,
       floor(quantile_cont(n_chars, 0.5) * 100 + 0.5) / 100 AS p50_chars,
       floor(quantile_cont(n_chars, 0.95) * 100 + 0.5) / 100 AS p95_chars,
       floor((sum(dr_nano) / count(*)) / 1000.0 + 0.5) / 1000000
         AS mean_distinct_ratio
FROM e GROUP BY lang ORDER BY lang
""")
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile per language: doc count, token volume, length
    quantiles, mean lexical diversity — the summary table every corpus
    release ships with.

    One grouped aggregation (exact per-group percentiles sort within the
    group — per-key work; swap percentile_approx at petabyte group sizes).
    The diversity mean uses the integer-nano quantization pattern
    (fold-order-free; see text_lm_score)."""
    from .queries import round2
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dr_nano = F.floor(
        F.lit(1000000000.0) * F.size(F.array_distinct(toks)) / F.size(toks)
        + F.lit(0.5)).cast("long")
    enriched = docs.select("lang", "n_chars",
                           F.size(toks).alias("ntok"),
                           dr_nano.alias("dr_nano"))
    return (enriched.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").alias("total_tokens"),
                 round2(F.expr("percentile(n_chars, 0.5)")).alias("p50_chars"),
                 round2(F.expr("percentile(n_chars, 0.95)")).alias("p95_chars"),
                 (F.floor((F.sum("dr_nano") / F.count("*")) / 1000.0
                          + F.lit(0.5)) / 1000000)
                 .alias("mean_distinct_ratio")))


@query("curate_pipeline", oracle="""
WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
d AS (SELECT doc_id, text, lang, string_split(text, ' ') AS t
      FROM documents JOIN keep USING (doc_id)),
q AS (SELECT doc_id, text, lang, t FROM d
      WHERE len(list_distinct(t)) / CAST(len(t) AS DOUBLE) >= 0.4),
s AS (SELECT doc_id, t FROM q
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
              % 10000
            < CASE lang WHEN 'en' THEN 8000 ELSE 3000 END),
c AS (SELECT doc_id, t,
             greatest(CAST(ceil(len(t) / 64.0) AS BIGINT), 1) AS ns FROM s)
SELECT doc_id, i AS chunk_idx,
       len(list_slice(t, i * 64 + 1, i * 64 + 64)) AS n_tokens
FROM c, UNNEST(range(0, ns)) AS u(i)
ORDER BY doc_id, chunk_idx
""")
def curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline as ONE composed dataflow: exact dedup ->
    lexical-diversity quality gate -> per-language stratified sample ->
    64-token chunking. A user runs their whole pretraining data prep in a
    single call; every stage is the same operator exposed individually.

    Shuffle story: dedup is one digest groupBy; the quality gate joins
    the doc-keyed stats back co-partitioned on doc_id; sampling and
    chunking are projections. Three shuffles end to end, none carrying
    more than (id, text)."""
    from .operators.dedup import exact_dedup
    from .operators.text import repetition_stats
    docs = load_table(spark, sf_dir, "documents")
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    deduped = docs.join(keep, "doc_id", "left_semi")
    stats = repetition_stats(deduped).filter(F.col("distinct_ratio") >= 0.4)
    gated = deduped.join(stats.select("doc_id"), "doc_id")
    sampled = C.stratified_sample(gated, {"en": 0.8}, strata_col="lang",
                                  key_col="doc_id", default_rate=0.3)
    return (C.chunk_tokens(sampled, max_tokens=64, overlap=0)
            .select("doc_id", "chunk_idx", "n_tokens"))


@query("embed_quantize", oracle="""
WITH x AS (SELECT vec_id,
                  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
           FROM embeddings),
s AS (SELECT vec_id, e,
             list_max(list_transform(e, v -> abs(v))) / 127.0 AS scale
      FROM x),
q AS (SELECT vec_id, scale,
             CASE WHEN scale = 0
                  THEN list_transform(e, v -> CAST(0 AS INT))
                  ELSE list_transform(
                      e, v -> CAST(floor(v / scale + 0.5) AS INT))
             END AS qvec
      FROM s)
SELECT vec_id,
       floor(scale * 1000000 + 0.5) / 1000000 AS scale_r,
       md5(array_to_string(qvec, ',')) AS qvec_digest,
       CAST(list_sum(qvec) AS BIGINT) AS code_sum
FROM q ORDER BY vec_id
""")
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding table: per-vector
    scale + int codes (the 4x-smaller ANN shard format). Pure projection;
    codes are integers and the scale is floor-rounded, so the oracle is
    bit-exact.

    The int8 code vector is surfaced as a digest + checksum rather than
    the raw array: the driver harness cannot canonicalize array-typed
    output cells (pandas sort_values on list cells raises), and the
    digest pins every code byte anyway."""
    from .operators.similarity import quantize_embeddings
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return (q.select("vec_id",
                     (F.floor(F.col("scale") * 1000000 + F.lit(0.5))
                      / 1000000).alias("scale_r"),
                     F.md5(F.array_join("qvec", ",")).alias("qvec_digest"),
                     F.aggregate("qvec", F.lit(0).cast("long"),
                                 lambda acc, x: acc + x).alias("code_sum")))


@query("curate_passage_dedup", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (SELECT doc_id, t,
             greatest(CAST(ceil(len(t) / 64.0) AS BIGINT), 1) AS ns
      FROM toks),
c AS (SELECT doc_id, i AS chunk_idx,
             len(list_slice(t, i * 64 + 1, i * 64 + 64)) AS n_tokens,
             md5(array_to_string(list_slice(t, i * 64 + 1, i * 64 + 64), ' '))
               AS chunk_digest
      FROM s, UNNEST(range(0, ns)) AS u(i))
SELECT doc_id, chunk_idx, n_tokens, chunk_digest
FROM c
QUALIFY row_number() OVER (PARTITION BY chunk_digest
                           ORDER BY doc_id, chunk_idx) = 1
ORDER BY doc_id, chunk_idx
""")
def curate_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style passage-grain exact dedup: non-overlapping 64-token windows,
    first occurrence corpus-wide wins (C4 does this at three-sentence
    spans). One digest-keyed shuffle; document bytes never cross the wire —
    see operators/curation.py::passage_dedup."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.passage_dedup(docs, max_tokens=64))


@query("text_boilerplate_ngrams", oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(t) - 2, 1) + 1),
               i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS g3
      FROM s),
d AS (SELECT doc_id, unnest(g3) AS shingle FROM g),
c AS (SELECT shingle, count(*) AS doc_freq FROM d GROUP BY shingle),
tot AS (SELECT count(*) AS total FROM documents)
SELECT shingle, doc_freq, doc_freq / CAST(total AS DOUBLE) AS doc_frac
FROM c, tot
WHERE doc_freq >= ceil(total * 0.02)
ORDER BY doc_freq DESC, shingle LIMIT 100
""")
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate mining: word 3-grams present in >= 2% of all
    docs, top-100 by document frequency — the removal list for
    header/footer/licence boilerplate and a contamination sweep in one
    pass. Distinct-per-doc shingles are row-local; the only shuffle is the
    partial-aggregated count on the shingle key."""
    docs = load_table(spark, sf_dir, "documents")
    return C.boilerplate_ngrams(docs, n=3, min_doc_frac=0.02, limit=100)


# ---------------------------------------------------------------------------
# URL / domain hygiene
# ---------------------------------------------------------------------------

#: SQL twin of operators.curation.synth_url (the fixture has no url column)
_SYNTH_URL_SQL = """
  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END ||
  CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END ||
  CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
  '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) ||
  '/page-' || CAST(doc_id AS VARCHAR) ||
  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
  '?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed' ||
  CASE WHEN doc_id % 7 = 0 THEN '&gclid=xyz' ELSE '' END ||
  '&ref=' || lang || '#frag'
"""


@query("curate_url_normalize", oracle=f"""
-- Mirrors normalize_urls step by step (same RE2-safe patterns, 'g' flag =
-- Spark's replace-all default): fragment off, tracking params out with
-- separator repair, scheme+host lowered, www. dropped, trailing / trimmed.
WITH u AS (SELECT doc_id, {_SYNTH_URL_SQL} AS url FROM documents),
s1 AS (SELECT doc_id, url,
              regexp_replace(url, '#.*$', '', 'g') AS no_frag FROM u),
s2 AS (SELECT *, regexp_extract(no_frag, '^[^?]*', 0) AS base,
              regexp_extract(no_frag, '\\?(.*)$', 1) AS query FROM s1),
s3 AS (SELECT *, regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(query,
                '(^|&)(utm_[a-z]+|gclid|fbclid|ref)=[^&#]*', '', 'g'),
              '&&+', '&', 'g'), '^&+', '', 'g'), '&+$', '', 'g') AS q
       FROM s2),
s4 AS (SELECT *,
              lower(regexp_extract(base, '^([A-Za-z]+)://', 1)) AS scheme,
              lower(regexp_extract(base, '^[A-Za-z]+://([^/]+)', 1)) AS host
       FROM s3),
s5 AS (SELECT *, regexp_replace(host, '^www\\.', '', 'g') AS domain,
              regexp_replace(regexp_extract(base,
                '^[A-Za-z]+://[^/]+(/.*)?$', 1), '/$', '', 'g') AS path
       FROM s4)
SELECT doc_id, url,
       scheme || '://' || domain || path ||
         CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_norm,
       domain
FROM s5 ORDER BY doc_id
""")
def curate_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization (pure regexp projection, zero shuffle):
    fragment + tracking params stripped, scheme/host lowercased, www.
    dropped, trailing slash trimmed. The url column is synthesized
    deterministically (scheme/www/casing/params vary by doc_id residues)
    so the oracle replays both the generator and the normalizer."""
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", C.synth_url(F.col("doc_id"), F.col("source"),
                              F.col("lang")).alias("url"))
    return (C.normalize_urls(with_url)
            .select("doc_id", "url", "url_norm", "domain"))


@query("curate_domain_cap", oracle="""
-- The oracle derives the domain analytically (lower(source) must survive
-- the engine's full normalize chain) and replays blocklist + cap.
WITH n AS (
  SELECT doc_id, lower(source) || '.example.com' AS domain FROM documents
), f AS (
  SELECT * FROM n
  WHERE domain NOT IN ('src3.example.com', 'src7.example.com')
)
SELECT doc_id, domain FROM f
QUALIFY row_number() OVER (PARTITION BY domain ORDER BY doc_id) <= 40
ORDER BY doc_id
""")
def curate_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-over-representation: normalize urls -> drop blocklisted
    domains (row-local NOT IN) -> keep at most 40 docs per domain
    (deterministic lowest-id winners; one shuffle on the domain key)."""
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", C.synth_url(F.col("doc_id"), F.col("source"),
                              F.col("lang")).alias("url"))
    capped = C.per_domain_cap(
        C.domain_filter(C.normalize_urls(with_url),
                        ["src3.example.com", "src7.example.com"]),
        cap=40)
    return capped.select("doc_id", "domain")


@query("curate_domain_blocklist", oracle="""
-- suffix semantics replayed as equality-or-dot-suffix LIKE: an entry
-- blocks itself AND every subdomain (the engine runs the scale shape —
-- row-local suffix expansion + semi/anti equi-joins — same answer)
WITH d AS (SELECT doc_id,
                  lang || '.' || lower(source) || '.example.com' AS domain
           FROM documents),
b(dom) AS (SELECT * FROM (VALUES ('src3.example.com'),
                                 ('src7.example.com'),
                                 ('de.src1.example.com')))
SELECT doc_id, domain FROM d
WHERE NOT EXISTS (SELECT 1 FROM b
                  WHERE d.domain = b.dom
                     OR d.domain LIKE '%.' || b.dom)
ORDER BY doc_id
""")
def curate_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-semantics domain blocklist (UT1/adblock contract):
    'src3.example.com' blocks every language subdomain under it, and
    one exact deep entry blocks only 'de.src1.example.com'. The engine
    expands each domain into its label suffixes ROW-LOCALLY and runs
    one semi + one anti equi-join — the shape that takes a
    million-entry blocklist; the oracle replays the same semantics as
    equality-or-LIKE."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.concat(F.col("lang"), F.lit("."), F.lower(F.col("source")),
                 F.lit(".example.com")).alias("domain"))
    bl = spark.createDataFrame(
        [("src3.example.com",), ("src7.example.com",),
         ("de.src1.example.com",)], "dom string")
    return (C.domain_suffix_blocklist(d, bl)
            .select("doc_id", "domain"))


@query("curate_domain_stats", oracle="""
WITH n AS (
  SELECT doc_id, n_chars, lower(source) || '.example.com' AS domain
  FROM documents
)
SELECT domain, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(n_chars) AS BIGINT) / count(*) AS mean_chars
FROM n GROUP BY domain ORDER BY domain
""")
def curate_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus profile over normalized urls: doc count, total
    and mean chars (mean = one exact-int division). Single aggregation
    shuffle; partial aggregation runs map-side before the exchange."""
    docs = load_table(spark, sf_dir, "documents")
    with_url = docs.select(
        "doc_id", "n_chars",
        C.synth_url(F.col("doc_id"), F.col("source"),
                    F.col("lang")).alias("url"))
    return (C.domain_stats(C.normalize_urls(with_url)))


@query("curate_grouped_split", oracle="""
SELECT doc_id, source,
       CASE WHEN ('0x' || substr(md5(source), 1, 8))::UBIGINT % 10000 < 500
            THEN 'val'
            WHEN ('0x' || substr(md5(source), 1, 8))::UBIGINT % 10000 < 1000
            THEN 'test'
            ELSE 'train' END AS split
FROM documents ORDER BY doc_id
""")
def curate_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe dataset split: assignment hashes the SOURCE (site),
    so all documents of a source share a split — near-dups within a site
    cannot straddle train and eval. Pure projection, deterministic, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.grouped_split(docs, "source")
            .select("doc_id", "source", "split"))


@query("curate_shard_assign", oracle="""
WITH b AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT::BIGINT
           AS h0
  FROM documents
), s AS (
  SELECT doc_id, n_tokens, h0, CAST(h0 % 8 AS INT) AS shard_id FROM b
)
SELECT doc_id, n_tokens, shard_id,
       row_number() OVER (PARTITION BY shard_id ORDER BY h0, doc_id)
         AS shard_pos,
       CAST(sum(n_tokens) OVER (PARTITION BY shard_id
                                ORDER BY h0, doc_id) AS BIGINT)
         AS cum_tokens
FROM s ORDER BY doc_id
""")
def curate_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard layout: md5-hash shard assignment (8 shards),
    hash-ordered within-shard positions (the corpus shuffle), and the
    within-shard token prefix sum a pack-boundary planner consumes.
    Deterministic — a re-run lays out byte-identical shards. One window
    shuffle on shard_id."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"))
    return (C.shard_assignment(base, n_shards=8, key_col="doc_id",
                               token_col="n_tokens"))


@query("curate_temperature_mix", oracle="""
WITH w AS (
  SELECT lang, count(*) AS n,
         CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS wq
  FROM documents GROUP BY lang
), t AS (SELECT sum(wq) AS tw FROM w),
r AS (
  -- NANO threshold resolution (see temperature_mix: bp granularity
  -- floors sub-1e-4 rates to zero kept rows at corpus scale)
  SELECT lang,
         CAST(floor(least(1.0, 250.0 * wq / tw / n) * 1e9 + 0.5)
              AS BIGINT) AS thresh
  FROM w, t
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN r ON d.lang IS NOT DISTINCT FROM r.lang
WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::UBIGINT
      % 1000000000 < r.thresh
ORDER BY d.doc_id
""")
def curate_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (alpha = 0.5): per-language
    sampling mass proportional to sqrt(n_lang), scaled to an expected 250
    kept docs — the data-mix recipe that upweights low-resource languages
    instead of sampling natural proportions.

    The rate table is a |langs|-row aggregate broadcast back onto the
    corpus; the keep decision is the same deterministic md5 hash as
    curate_stratified_sample. Weights are integer-quantized BEFORE the
    cross-language sum so thresholds are bit-identical in any engine
    (sqrt is IEEE correctly-rounded; no order-dependent float sums)."""
    docs = load_table(spark, sf_dir, "documents")
    out = C.temperature_mix(docs, target_rows=250, strata_col="lang",
                            key_col="doc_id", alpha=0.5)
    return out.select("doc_id", "lang", "source")


@query("curate_contamination_score", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 3), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 3, 1) + 1)) AS u(i)),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, gram FROM grams WHERE doc_id % 97 <> 0),
tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id),
sh AS (SELECT t.doc_id, count(*) AS n_shared
       FROM tr t JOIN ev USING (gram) GROUP BY t.doc_id)
SELECT tot.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
       CAST(floor(COALESCE(sh.n_shared, 0) * 1000 / n_grams) AS BIGINT)
         AS contam_permille
FROM tot LEFT JOIN sh ON tot.doc_id = sh.doc_id
ORDER BY tot.doc_id
""")
def curate_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination: per training doc (id % 97 != 0) the permille
    of its distinct 4-grams found in the eval slice (id % 97 == 0) — the
    thresholdable version of curate_decontaminate, zero-overlap docs
    included. Eval grams broadcast; one explode feeds both the totals
    and the matched counts."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    return C.contamination_score(train, ev, n=4)


_DSIR_W_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1) + 1),
                i -> array_to_string(t[i:i+1], ' '))) AS g
  FROM toks),
feats AS (SELECT doc_id,
                 ('0x' || substr(md5(g), 1, 8))::UBIGINT::BIGINT % 1024 AS b
          FROM grams),
tfeats AS (SELECT b FROM feats JOIN documents USING (doc_id)
           WHERE lang = 'en'),
tc AS (SELECT b, count(*) AS tc FROM tfeats GROUP BY b),
rc AS (SELECT b, count(*) AS rc FROM feats GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM tfeats) AS T,
               (SELECT count(*) FROM feats) AS R),
terms AS (
  SELECT s.b,
         CAST(floor((ln(COALESCE(tc, 0) + 1) - ln(T + 1024)
                     - ln(COALESCE(rc, 0) + 1) + ln(R + 1024))
                    * 1000000000.0 + 0.5) AS BIGINT) AS trm
  FROM range(1024) s(b)
  LEFT JOIN tc ON tc.b = s.b
  LEFT JOIN rc ON rc.b = s.b, tot),
w AS (SELECT doc_id, count(*) AS n_grams,
             CAST(sum(trm) AS BIGINT) AS logw_nano
      FROM feats JOIN terms USING (b) GROUP BY doc_id)
"""


@query("curate_dsir_weights", oracle=f"""
WITH {_DSIR_W_SQL}
SELECT doc_id, n_grams, logw_nano FROM w ORDER BY doc_id
""")
def curate_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): score every corpus doc
    by hashed-bigram log-likelihood ratio toward the English-language
    target slice — the 'select crawl data that resembles the target
    domain' pass. Nano-int per-bucket terms make the per-doc sums
    integer-exact across engines."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    # no presentational global orderBy (r8 sweep): hashes are
    # order-insensitive, and the range-sample pass re-executes the
    # whole child plan
    return C.dsir_weights(docs, target, buckets=1024, n=2)


@query("curate_dsir_sample", oracle=f"""
WITH {_DSIR_W_SQL},
keyed AS (
  SELECT doc_id, n_grams, logw_nano,
         logw_nano + CAST(floor(-ln(-ln(
             (('0x' || substr(md5('7:' || doc_id), 1, 8))
              ::UBIGINT::BIGINT + 0.5) / 4294967296.0))
             * 1000000000.0 + 0.5) AS BIGINT) AS key_nano
  FROM w)
SELECT doc_id, n_grams, logw_nano, key_nano FROM keyed
ORDER BY key_nano DESC, doc_id LIMIT 100
""")
def curate_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step: Gumbel-top-k over the importance weights
    draws exactly 100 docs ~ softmax(log w) without replacement,
    md5-seeded so the sample is reproducible across runs and engines.
    orderBy+limit compiles to TakeOrdered — no single-partition sort."""
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    w = C.dsir_weights(docs, target, buckets=1024, n=2)
    return C.dsir_resample(w, n_keep=100, seed=7)


_HK_SQL = ("(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))"
           "::UBIGINT::BIGINT % 10000)")


@query("curate_sample_exact_k", oracle=f"""
WITH h AS (SELECT doc_id, lang, {_HK_SQL} AS hk FROM documents),
r AS (SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY hk, doc_id) AS sample_rank
      FROM h)
SELECT doc_id, lang, sample_rank FROM r
WHERE sample_rank <= 20 ORDER BY lang, sample_rank
""")
def curate_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20-docs-per-language uniform sample (deterministic
    md5-hash permutation ranked within each stratum) — the fixed-size
    eval-set builder. One stratum-keyed shuffle, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.sample_exact_k(docs, k=20, strata_col="lang",
                             key_col="doc_id")
            .select("doc_id", "lang", "sample_rank"))


@query("curate_token_budget_mix", oracle=f"""
WITH h AS (SELECT doc_id, source, n_chars, {_HK_SQL} AS hk
           FROM documents),
c AS (SELECT doc_id, source, n_chars,
             CAST(COALESCE(sum(n_chars) OVER (
                 PARTITION BY source ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS tokens_before
      FROM h)
SELECT doc_id, source, n_chars, tokens_before FROM c
WHERE tokens_before < 30000 ORDER BY doc_id
""")
def curate_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget mixture: keep docs in the deterministic
    hash order while each source's running char total stays under
    30000 — the 'N tokens of each source' mix assembly where row counts
    are the wrong unit. One shuffle on the source key; integer prefix
    sums are engine-bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.token_budget_mix(docs, budget_per_stratum=30000,
                               strata_col="source", key_col="doc_id",
                               tokens_col="n_chars")
            .select("doc_id", "source", "n_chars", "tokens_before"))


@query("curate_gopher_filter", oracle="""
WITH s AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (SELECT doc_id, t,
       list_transform(range(1, greatest(len(t) - 2, 1) + 1),
                      i -> array_to_string(list_slice(t, i, i + 2), ' '))
         AS g3
      FROM s),
m AS (SELECT doc_id, len(t) AS n_tokens,
       list_sum(list_transform(t, x -> length(x)))
         / CAST(len(t) AS DOUBLE) AS mean_word_len,
       len(list_filter(t, x -> list_contains(
           ['the','a','of','and','is','in','to','it'], lower(x))))
         AS n_stopwords,
       list_max(list_transform(list_distinct(t),
                x -> len(list_filter(t, y -> y = x))))
         / CAST(len(t) AS DOUBLE) AS top_token_frac,
       1 - len(list_distinct(g3)) / CAST(len(g3) AS DOUBLE)
         AS dup_3gram_frac
      FROM g)
SELECT doc_id, n_tokens, mean_word_len, n_stopwords, top_token_frac,
       dup_3gram_frac,
       n_tokens >= 30 AND n_tokens <= 100000 AS r_len,
       mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_word_len,
       n_stopwords >= 2 AS r_stopwords,
       top_token_frac <= 0.12 AS r_top_token,
       dup_3gram_frac <= 0.05 AS r_dup_3gram,
       (n_tokens >= 30 AND n_tokens <= 100000)
         AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         AND n_stopwords >= 2 AND top_token_frac <= 0.12
         AND dup_3gram_frac <= 0.05 AS keep
FROM m ORDER BY doc_id
""")
def curate_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher heuristic-rule quality gate (Rae et al. 2021 shape) as
    one row-local verdict: length / mean-word-length / stopword /
    top-token-share / duplicate-3-gram rules, each surfaced as a boolean
    plus the conjunction — the standard pre-classifier filter pass.
    Every signal is int/int arithmetic over one token projection, so
    both engines produce bit-identical doubles; keeps 65% of the sf0.01
    corpus (every rule fires somewhere)."""
    from .operators.text import gopher_filter
    docs = load_table(spark, sf_dir, "documents")
    return (gopher_filter(docs, min_tokens=30, max_top_token_frac=0.12,
                          max_dup_3gram_frac=0.05))


@query("text_ctfidf_terms", oracle="""
WITH toks AS (SELECT source AS grp, unnest(string_split(text, ' ')) AS term
              FROM documents),
gt AS (SELECT grp, term, count(*) AS tf FROM toks GROUP BY grp, term),
ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS f_t FROM gt GROUP BY term),
a AS (SELECT avg(m) AS A FROM (
        SELECT CAST(sum(tf) AS DOUBLE) AS m FROM gt GROUP BY grp)),
scored AS (
  SELECT grp, term, tf,
         CAST(floor(tf * ln(1.0 + A / f_t) * 1000000000.0 + 0.5)
              AS BIGINT) AS ctfidf_nano
  FROM gt JOIN ft USING (term), a),
ranked AS (
  SELECT grp, term, tf, ctfidf_nano,
         row_number() OVER (PARTITION BY grp
                            ORDER BY ctfidf_nano DESC, term) AS term_rank
  FROM scored)
SELECT grp AS source, term, tf, ctfidf_nano, term_rank FROM ranked
WHERE term_rank <= 5 ORDER BY source, term_rank
""")
def text_ctfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Characteristic terms per source via class-based TF-IDF (the
    BERTopic c-TF-IDF statistic): within-group term counts scaled by
    log(1 + A/f_t) against the corpus-wide marginal — the dataset-card
    'what is this slice about' summary. Nano-int scores, term tiebreak:
    deterministic top-5 per group."""
    from .operators.text import ctfidf_terms
    docs = load_table(spark, sf_dir, "documents")
    return (ctfidf_terms(docs, group_col="source", top=5))


@query("curate_weighted_sample", oracle="""
WITH keyed AS (
  SELECT doc_id, n_chars,
         CAST(floor(ln((('0x' || substr(md5('11:' || doc_id), 1, 8))
                        ::UBIGINT::BIGINT + 0.5) / 4294967296.0)
                    / n_chars * 1000000000.0 + 0.5) AS BIGINT)
           AS es_key_nano
  FROM documents WHERE n_chars > 0)
SELECT doc_id, n_chars, es_key_nano FROM keyed
ORDER BY es_key_nano DESC, doc_id LIMIT 100
""")
def curate_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-100-doc sample with inclusion probability proportional to
    document LENGTH (Efraimidis-Spirakis A-ES keys over the md5
    uniform): the token-mass-proportional draw used for eval panels —
    row-uniform sampling under-represents the long docs that dominate
    training token counts. Deterministic across runs and engines;
    TakeOrdered, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.weighted_sample_k(docs, k=100, weight_col="n_chars",
                                key_col="doc_id")
            .select("doc_id", "n_chars", "es_key_nano"))


@query("curate_mad_outliers", oracle="""
WITH med AS (SELECT quantile_cont(n_chars, 0.5) AS m FROM documents),
devs AS (SELECT doc_id, n_chars,
                CAST(floor(abs(n_chars - m) * 10000 + 0.5) AS BIGINT)
                  AS dev_e4
         FROM documents, med),
mad AS (SELECT quantile_cont(dev_e4, 0.5) AS md FROM devs)
SELECT doc_id, n_chars, dev_e4, dev_e4 <= 3.0 * md AS keep
FROM devs, mad ORDER BY doc_id
""")
def curate_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier gate on document length: rows more
    than 3 median-absolute-deviations from the median length are
    flagged — the distribution-sanity filter that a handful of giant or
    empty documents cannot drag, unlike mean±kσ. Two 1-row aggregations
    broadcast back over the corpus; e4-quantized deviations keep the
    keep decision engine-bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return (C.mad_outlier_filter(docs, "n_chars", k=3.0))


@query("curate_decontaminate_bloom", oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(t, i, i + 3), ' ') AS gram
  FROM toks, UNNEST(range(1, greatest(len(t) - 3, 1) + 1)) AS u(i)),
ev AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0)
SELECT g.doc_id, count(DISTINCT g.gram) AS n_shared
FROM grams g JOIN ev USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id ORDER BY g.doc_id
""")
def curate_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via the Bloom pre-filter path — the plan for when
    the eval gram set outgrows a broadcast: grams thin against a
    task-closure bitset BEFORE the shuffle verification join. No false
    negatives, so the oracle is IDENTICAL to `curate_decontaminate` —
    two physical strategies, one answer, both hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    # no presentational global orderBy (r8 sweep) — see
    # curate_dsir_weights
    return C.decontaminate_bloom(train, ev, n=4)


@query("curate_funnel_report", oracle="""
WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t
           FROM documents),
m AS (SELECT doc_id, n_chars, len(t) AS nt,
             len(list_distinct(t)) AS nd,
             list_sum(list_transform(t, x -> len(x))) AS sl,
             len(list_filter(t, x -> x IN ('a', 'the'))) AS nc
      FROM d),
ff AS (SELECT CASE
         -- coalesce(gate, FALSE): a NULL gate input is a FAIL at that
         -- stage (the engine's first_fail_expr convention); a bare NOT
         -- would let NULL fall through to a later stage
         WHEN NOT coalesce(n_chars BETWEEN 80 AND 2000, FALSE) THEN 0
         WHEN NOT coalesce(nd * 100 >= nt * 40, FALSE) THEN 1
         WHEN NOT coalesce(sl * 10 BETWEEN nt * 40 AND nt * 50, FALSE) THEN 2
         WHEN NOT coalesce(nc * 100 <= nt * 12, FALSE) THEN 3
         ELSE 4 END AS s
       FROM m),
k AS (SELECT s, count(*) AS n FROM ff GROUP BY s),
g AS (SELECT * FROM (VALUES (0, 'len_ok'), (1, 'diversity'),
                            (2, 'word_len'), (3, 'common_ratio'))
      AS v(stage, gate)),
t AS (SELECT stage, gate, CAST(coalesce(n, 0) AS BIGINT) AS n_killed
      FROM g LEFT JOIN k ON k.s = g.stage),
c AS (SELECT stage, gate, n_killed,
             CAST(sum(n_killed) OVER (ORDER BY stage) AS BIGINT) AS cumk,
             (SELECT count(*) FROM m) AS total
      FROM t)
SELECT stage, gate,
       CAST(total - cumk + n_killed AS BIGINT) AS n_in,
       n_killed,
       CAST(total - cumk AS BIGINT) AS n_out
FROM c ORDER BY stage
""")
def curate_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel over the corpus: four sequential row-local
    gates (length band, lexical diversity, mean word length, common-word
    ratio), each document charged to the FIRST gate it fails — the
    per-gate kill-attribution dashboard a curation rollout reviews
    before changing any threshold. All gate comparisons are
    cross-multiplied integers (no FP ratios), so the DuckDB oracle
    reproduces the funnel exactly.

    One corpus scan (all gate booleans in one projection), a 5-row
    first-fail groupBy, and stage arithmetic over that tiny table —
    nothing but gate indices and counts shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    m = (docs.select("doc_id", "n_chars",
                     F.split(F.col("text"), " ").alias("_toks"))
         .select("doc_id", "n_chars",
                 F.size("_toks").alias("nt"),
                 F.size(F.array_distinct("_toks")).alias("nd"),
                 F.aggregate(F.transform("_toks", lambda x: F.length(x)),
                             F.lit(0), lambda a, b: a + b).alias("sl"),
                 F.size(F.filter("_toks",
                                 lambda x: x.isin("a", "the"))).alias("nc")))
    gates = [
        ("len_ok", F.col("n_chars").between(80, 2000)),
        ("diversity", F.col("nd") * 100 >= F.col("nt") * 40),
        ("word_len", (F.col("sl") * 10 >= F.col("nt") * 40)
         & (F.col("sl") * 10 <= F.col("nt") * 50)),
        ("common_ratio", F.col("nc") * 100 <= F.col("nt") * 12),
    ]
    return C.gate_funnel(m, gates)
