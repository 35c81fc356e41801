"""Property-based tests (hypothesis) for the pure-Python semantic layers:
tag-search parsing, MQTT wildcard matching, schedule arithmetic, and the
engine-stable rounding formula. These are the pieces whose behavior is a
*contract* with the reference (SURVEY.md §4.3), so they get adversarial
inputs, not just examples."""

from __future__ import annotations

import math
import re
from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from servihabitat_etl_spyke_spark.plans.listquery import parse_search
from servihabitat_etl_spyke_spark.session import get_spark
from servihabitat_etl_spyke_spark.streaming import schedules as SCH
from servihabitat_etl_spyke_spark.streaming.topics import mqtt_to_regex

# -- parse_search ---------------------------------------------------------------

_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), max_codepoint=127),
    min_size=1, max_size=8)


@given(key=_word, value=_word, free=_word)
def test_tag_plus_freetext_separates(key, value, free):
    tags, residual = parse_search(f"{key}:{value} {free}")
    assert tags.get(key.lower()) == value
    # the free token survives unless it itself parses as part of the tag
    assert free in residual or f"{key}:{value}" == f"{key}:{free}"


@given(key=_word, words=st.lists(_word, min_size=1, max_size=3))
def test_quoted_tag_value_keeps_spaces(key, words):
    phrase = " ".join(words)
    tags, residual = parse_search(f'{key}:"{phrase}"')
    assert tags == {key.lower(): phrase}
    assert residual == ""


@given(s=st.text(max_size=40))
def test_parse_search_never_crashes_and_roundtrips_tokens(s):
    tags, residual = parse_search(s)
    # every tag key is lowercase (reference lowercases keys, §4.3.3)
    assert all(k == k.lower() for k in tags)
    # residual contains no tag-shaped tokens
    assert not re.search(r"\w+:\S+", " " + residual) or ":" in residual


# -- MQTT wildcards ---------------------------------------------------------------


def _ref_match(pattern: str, topic: str) -> bool:
    """Reference matcher, transliterated from apps/api/src/api.ts:62-77:
    segment-wise compare; '+' skips one segment; '#' accepts the rest."""
    pp, tp = pattern.split("/"), topic.split("/")
    for i, p in enumerate(pp):
        if p == "#":
            return True
        if i >= len(tp):
            return False
        if p != "+" and p != tp[i]:
            return False
    return len(tp) == len(pp)


_seg = st.text(alphabet="abc1", min_size=1, max_size=3)
_topic = st.lists(_seg, min_size=1, max_size=4).map("/".join)


@given(topic=_topic,
       pattern=st.lists(st.one_of(_seg, st.just("+")), min_size=1, max_size=4)
       .map("/".join))
def test_regex_matches_reference_semantics_plus(topic, pattern):
    assert bool(re.match(mqtt_to_regex(pattern), topic)) == _ref_match(pattern, topic)


@given(topic=_topic,
       prefix=st.lists(st.one_of(_seg, st.just("+")), min_size=0, max_size=3))
def test_regex_matches_reference_semantics_hash(topic, prefix):
    pattern = "/".join(prefix + ["#"])
    got = bool(re.match(mqtt_to_regex(pattern), topic))
    ref = _ref_match(pattern, topic)
    # one documented divergence: 'a/#' also matches the parent 'a' itself
    # (reference api.ts short-circuits '#' only at its segment position)
    if got != ref:
        assert topic == "/".join(prefix)
    else:
        assert got == ref


# -- schedules --------------------------------------------------------------------


@given(minutes=st.integers(0, 59), hours=st.integers(0, 23),
       day=st.sampled_from(list(SCH.WEEKDAYS)),
       start=st.datetimes(min_value=datetime(2020, 1, 1),
                          max_value=datetime(2030, 1, 1)),
       n=st.integers(1, 4))
def test_next_fires_invariants(minutes, hours, day, start, n):
    fires = SCH.next_fires(minutes, hours, day, start, n=n)
    assert len(fires) == n
    assert all(f > start for f in fires)
    assert all(f.weekday() == SCH.WEEKDAYS[day] for f in fires)
    assert all(f.hour == hours and f.minute == minutes for f in fires)
    assert all(b - a == timedelta(days=7) for a, b in zip(fires, fires[1:]))


# -- engine-stable rounding --------------------------------------------------------


@given(x=st.floats(min_value=-1e9, max_value=1e9,
                   allow_nan=False, allow_infinity=False))
def test_floor_round_formula_is_pure_ieee(x):
    """floor(x*100+0.5)/100 must be computable identically from the binary
    double alone (that's WHY both engines agree on it) — compare the Python
    evaluation against an independent decomposition."""
    got = math.floor(x * 100 + 0.5) / 100
    again = math.floor(math.fma(x, 100, 0.5) if hasattr(math, "fma")
                       else x * 100 + 0.5) / 100
    assert got == again or abs(got - again) <= 0.01  # fma may differ by 1 ulp bucket
    # and it's within half a cent of x
    assert abs(got - x) <= 0.005 + 1e-9 * abs(x)


# -- curation invariants (hypothesis) ----------------------------------------


@given(st.lists(st.integers(min_value=1, max_value=200), min_size=1,
                max_size=12),
       st.integers(min_value=2, max_value=32))
@settings(max_examples=12, deadline=None)
def test_chunking_partitions_every_token_without_loss(lens, max_tokens):
    """Chunks with overlap=0 exactly partition each doc's token stream:
    counts sum to the doc length and order is preserved."""
    spark = get_spark("tests-prop")
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}_{j}" for j in range(ln)))
         for i, ln in enumerate(lens)],
        "doc_id long, text string")
    from servihabitat_etl_spyke_spark.operators.curation import chunk_tokens
    out = chunk_tokens(docs, max_tokens=max_tokens, overlap=0).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["chunk_idx"])):
        by_doc.setdefault(r["doc_id"], []).extend(r["chunk"].split())
    for i, ln in enumerate(lens):
        assert by_doc[i] == [f"t{i}_{j}" for j in range(ln)]


@given(st.lists(st.integers(min_value=1, max_value=50), min_size=1,
                max_size=15),
       st.integers(min_value=4, max_value=64))
@settings(max_examples=12, deadline=None)
def test_packing_bins_are_contiguous_and_bounded(lens, cap):
    """pack_greedy bins are contiguous in doc order and every bin's token
    total stays below cap + the size of its last doc (contiguous packing
    overflows by at most one document)."""
    spark = get_spark("tests-prop")
    docs = spark.createDataFrame(
        [(i, " ".join("w" for _ in range(ln)), "s") for i, ln in
         enumerate(lens)],
        "doc_id long, text string, source string")
    from servihabitat_etl_spyke_spark.operators.curation import pack_greedy
    rows = sorted(pack_greedy(docs, max_tokens=cap, group_col="source")
                  .collect(), key=lambda r: r["doc_id"])
    bins = [r["bin"] for r in rows]
    assert bins == sorted(bins)          # contiguous, monotone in id order
    totals = {}
    for r in rows:
        totals[r["bin"]] = totals.get(r["bin"], 0) + r["n_tokens"]
    for b, tot in totals.items():
        last = max(r["n_tokens"] for r in rows if r["bin"] == b)
        assert tot < cap + last + 1


# -- multimodal codecs ---------------------------------------------------------

@given(
    h=st.integers(1, 12), w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_image_codecs_roundtrip_any_shape(h, w, seed):
    import numpy as np

    from servihabitat_etl_spyke_spark.operators import multimodal as MM
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(px)), px)
    assert np.array_equal(MM.decode_ppm(MM.encode_ppm(px)), px)
    assert MM.decode_bmp_meta(MM.encode_bmp(px)) == (w, h)


@given(
    n=st.integers(1, 64), ch=st.integers(1, 2),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrip_any_shape(n, ch, rate, seed):
    import numpy as np

    from servihabitat_etl_spyke_spark.operators import multimodal as MM
    rng = np.random.default_rng(seed)
    s = rng.integers(-32768, 32768, size=(n, ch), dtype=np.int16)
    data = MM.encode_wav(s, rate)
    out, out_rate = MM.decode_wav(data)
    assert out_rate == rate and np.array_equal(out, s)
    meta = MM.decode_wav_meta(data)
    assert (meta["n_frames"], meta["channels"]) == (n, ch)


# -- URL normalization ---------------------------------------------------------

_seg = st.text(alphabet="abcXYZ09", min_size=1, max_size=6)


@given(
    scheme=st.sampled_from(["http", "https", "HTTP"]),
    www=st.booleans(), host=_seg, path=st.lists(_seg, max_size=3),
    params=st.lists(st.tuples(
        st.sampled_from(["id", "q", "utm_source", "utm_campaign", "ref",
                         "gclid", "keep"]), _seg), max_size=4),
    frag=st.one_of(st.none(), _seg),
    trailing=st.booleans())
@settings(max_examples=60, deadline=None)
def test_normalize_urls_idempotent_and_tracking_free(
        scheme, www, host, path, params, frag, trailing):
    """normalize(normalize(u)) == normalize(u); no tracking params, no
    fragment, no www., lowercase scheme+domain in the output."""
    from pyspark.sql import functions as F

    from servihabitat_etl_spyke_spark.operators.curation import normalize_urls
    url = f"{scheme}://{'www.' if www else ''}{host}.test"
    if path:
        url += "/" + "/".join(path)
    if trailing:
        url += "/"
    if params:
        url += "?" + "&".join(f"{k}={v}" for k, v in params)
    if frag is not None:
        url += "#" + frag
    spark = get_spark()
    df = spark.createDataFrame([(url,)], "url string")
    once = normalize_urls(df).select(F.col("url_norm").alias("url"))
    r1 = once.collect()[0]["url"]
    r2 = normalize_urls(once).collect()[0]["url_norm"]
    assert r1 == r2                                   # idempotent
    assert "#" not in r1 and "www." not in r1
    for bad in ("utm_", "gclid=", "fbclid=", "ref="):
        assert bad not in r1
    assert r1.split("://")[0] == scheme.lower()
    host_out = r1.split("://")[1].split("/")[0].split("?")[0]
    assert host_out == host.lower() + ".test"


# -- BPE tokenizer (pure-Python train/encode layer) ---------------------------

_bpe_word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll",), max_codepoint=127),
    min_size=1, max_size=10)


@given(texts=st.lists(st.lists(_bpe_word, min_size=1, max_size=6)
                      .map(" ".join), min_size=1, max_size=5),
       probe=_bpe_word,
       n_merges=st.integers(min_value=0, max_value=20))
@settings(max_examples=40, deadline=None)
def test_bpe_encode_lossless_for_any_merge_list(texts, probe, n_merges):
    """Merges only concatenate adjacent symbols, so decoding is always
    the identity: joining the pieces reconstructs word + '</w>' for ANY
    trained merge list and ANY word — seen or unseen."""
    from servihabitat_etl_spyke_spark.operators.text import (
        bpe_encode, train_bpe)
    merges = train_bpe(texts, n_merges=n_merges)
    assert "".join(bpe_encode(probe, merges)) == probe + "</w>"


@given(texts=st.lists(st.lists(_bpe_word, min_size=1, max_size=5)
                      .map(" ".join), min_size=1, max_size=5))
@settings(max_examples=25, deadline=None)
def test_bpe_training_is_order_free(texts):
    """The merge list depends on word COUNTS, not document order — a
    re-shuffled corpus trains the identical tokenizer."""
    from servihabitat_etl_spyke_spark.operators.text import train_bpe
    assert train_bpe(texts, 12) == train_bpe(list(reversed(texts)), 12)


# -- prefix-filter completeness --------------------------------------------------

_doc_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta",
                     "eta", "theta", "x1", "x2", "x3", "x4"]),
    min_size=3, max_size=12)


@given(texts=st.lists(_doc_words, min_size=4, max_size=10),
       t=st.sampled_from([0.2, 0.4, 0.6]))
@settings(max_examples=6, deadline=None)
def test_prefix_filter_never_loses_a_pair(texts, t):
    """PPJoin completeness on random corpora: the prefix-filtered join's
    pair set equals the full inverted-index join's at every threshold —
    the lemma (any pair at Jaccard >= t collides in its rarest-first
    prefixes) exercised adversarially, including duplicate docs, subset
    docs, and heavy shingle skew."""
    from servihabitat_etl_spyke_spark.operators import dedup as D
    spark = get_spark("tests")
    rows = [(i, " ".join(ws)) for i, ws in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full = sorted(map(tuple, D.jaccard_pairs(docs, threshold=t).collect()))
    pf = sorted(map(tuple,
                    D.prefix_filter_pairs(docs, threshold=t).collect()))
    assert pf == full


# -- histogram-exact percentile_cont (mad_outlier_filter) -----------------------


@given(vals=st.lists(st.integers(min_value=-1000, max_value=1000),
                     min_size=1, max_size=60),
       reps=st.lists(st.integers(min_value=1, max_value=4),
                     min_size=60, max_size=60))
def test_median_interp_matches_numpy_percentile_cont(vals, reps):
    """_median_interp over a (value, count) histogram must equal numpy's
    linear-interpolated median of the expanded multiset — the
    percentile_cont definition DuckDB's quantile_cont implements."""
    import numpy as np
    from servihabitat_etl_spyke_spark.operators.curation import (
        _median_interp)
    expanded = sorted(v for v, r in zip(vals, reps) for _ in range(r))
    u, c = np.unique(np.asarray(expanded), return_counts=True)
    got = _median_interp(u.astype("float64"), c.astype("int64"))
    want = float(np.percentile(np.asarray(expanded, dtype="float64"), 50.0))
    assert math.isclose(got, want, rel_tol=0, abs_tol=1e-9)


# -- batch writer chunking contract ---------------------------------------------


@given(n=st.integers(min_value=0, max_value=137),
       size=st.integers(min_value=1, max_value=25))
def test_batch_writer_chunks_cover_rows_in_order(n, size):
    """Every row reaches the transport exactly once, in input order,
    in chunks of at most the configured size (last chunk may be short)."""
    from servihabitat_etl_spyke_spark.operators.etl import make_batch_writer
    sent = []
    wp = make_batch_writer(sent.append, batch_size=size)
    wp(iter([{"i": i} for i in range(n)]))
    assert all(len(b) <= size for b in sent)
    assert all(len(b) == size for b in sent[:-1])  # only the tail is short
    assert [r["i"] for b in sent for r in b] == list(range(n))


# -- list queries: Spark plan vs the driver-side Arrow evaluator ----------------

_NAN = float("nan")
_ASCII_STRINGS = ("", "a", "A", "ab", "b", "B1", "1", "10", "2", "true",
                  "a b")
_OTHER_STRINGS = ("é", "Éa", "ß", "Ω", "\U0001F600", "ǅ")
_DOUBLES = (_NAN, 0.0, -0.0, 1.0, -1.0, 1.5, 2.0, 10.0, -2.5, 1e20,
            float("inf"))
_DATES = tuple(datetime(2024, 1, d).date() for d in (1, 2, 3))
_TIMESTAMPS = (datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 0, 0, 5),
               datetime(1969, 12, 31, 23, 59))
_COLUMNS = ("id", "s", "d", "n", "b", "dt", "ts", "sec")
_BOUNDS = st.sampled_from((None, -1, 0, 1, 1.5, _NAN, -0.0, "1", "a", "B",
                           "é", True))
_FILTER_VALUE = st.one_of(
    st.sampled_from((None, 0, 1, -1, 2, 1.0, 1.5, -0.0, _NAN, 10 ** 20,
                     True, False, "1", "a", "A", "true", "1.0", "", "é")),
    st.fixed_dictionaries({}, optional={"from": _BOUNDS, "to": _BOUNDS}))


def _opt(strategy):
    return st.one_of(st.none(), strategy)


@st.composite
def _list_relations(draw):
    """(rows, DDL schema, model): up to 10 rows with unique ids (long or
    string, non-ASCII included), and columns holding nulls, NaN, ±0.0,
    integral and non-integral doubles, ASCII-only or non-ASCII strings,
    dates, timestamps and booleans."""
    strings = _ASCII_STRINGS + (() if draw(st.booleans()) else _OTHER_STRINGS)
    if draw(st.booleans()):
        ids, id_type = draw(st.lists(st.integers(-20, 20), unique=True,
                                     max_size=10)), "long"
    else:
        ids, id_type = draw(st.lists(st.text("aAbé1\U0001F600", max_size=3),
                                     unique=True, max_size=10)), "string"
    rows = [(i, draw(_opt(st.sampled_from(strings))),
             draw(_opt(st.sampled_from(_DOUBLES))),
             draw(_opt(st.integers(-3, 3))), draw(_opt(st.booleans())),
             draw(_opt(st.sampled_from(_DATES))),
             draw(_opt(st.sampled_from(_TIMESTAMPS))),
             draw(_opt(st.sampled_from(("x", "y"))))) for i in ids]
    from servihabitat_etl_spyke_spark.model import FieldSpec, model
    m = model("p", FieldSpec("id", is_id=True),
              FieldSpec("s", group_index=True),
              FieldSpec("d", searchable=False, group_index=True),
              FieldSpec("n", group_index=True),
              FieldSpec("b", searchable=False, group_index=True),
              FieldSpec("dt", searchable=False, group_index=True,
                        hidden_views=frozenset({"read"})),
              FieldSpec("ts", searchable=False),
              FieldSpec("sec", secret=True),
              default_order_by=draw(st.sampled_from((None, "n", "d"))))
    schema = (f"id {id_type}, s string, d double, n long, b boolean, "
              "dt date, ts timestamp, sec string")
    return rows, schema, m


_LIST_PARAMS = st.builds(
    lambda **kw: kw,
    filter=st.dictionaries(st.sampled_from(_COLUMNS + ("nosuch",)),
                           _FILTER_VALUE, max_size=2),
    search=st.sampled_from(("", "a", "A", "1", "s:a", "s:A", "n:1", "id:1",
                            "b:true", "nosuch:x", "sec:x", 's:"a b"', "é",
                            "s:é", "1 s:b")),
    order_by=st.sampled_from((None,) + _COLUMNS + ("nosuch",)),
    order_direction=st.sampled_from((None, "asc", "desc", "DESC")),
    page=st.integers(0, 3), items_per_page=st.integers(-1, 4),
    all=st.booleans(), view=st.sampled_from(("list", "read")),
    group=st.sampled_from((None, None, None) + _COLUMNS + ("nosuch",)),
    group_search=st.sampled_from((None, "", "a", "1", "t", "é")))


def _plain(value):
    """Rows, envelopes and errors in a form ``==`` compares exactly, each
    value with its Python type: a float by ``repr`` (NaN equal to NaN,
    -0.0 apart from 0.0)."""
    if isinstance(value, float):
        return "float", repr(value)
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    if isinstance(value, (list, tuple)):
        return type(value).__name__, [_plain(v) for v in value]
    if hasattr(value, "collect"):          # a DataFrame
        return [value.schema.simpleString(), value.columns, value.count(),
                [_plain(r) for r in value.collect()]]
    return type(value).__name__, value


def _outcome(fn):
    try:
        return _plain(fn())
    except Exception as e:     # both paths must fail alike
        return ("error", type(e).__name__)


@given(rel=_list_relations(), kw=_LIST_PARAMS)
@settings(max_examples=30, deadline=None)
def test_list_query_arrow_twin_matches_spark(spark, list_paths, rel, kw):
    """The driver-side evaluator gives the Spark plan's answer: the same
    ordered rows and schema from a list, the same envelope from a page,
    the same group options. A request it declines falls back to Spark
    (``ListPath``), so a decline is never a difference."""
    from hypothesis import event

    from servihabitat_etl_spyke_spark.plans.listquery import ListParams
    rows, schema, m = rel
    df = spark.createDataFrame(rows, schema)
    on_spark, on_arrow = list_paths()
    params = ListParams(**kw)
    for run in ("list", "page"):
        if run == "page" and params.group:
            continue
        want = _outcome(lambda: getattr(on_spark, run)(df, m, params))
        got = _outcome(lambda: getattr(on_arrow, run)(df, m, params))
        assert got == want, (run, params)
    event(f"declined {on_arrow.declined} of 2")
