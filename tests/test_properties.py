"""Property-based tests (hypothesis) for the scalar library — SURVEY §5's
consequence: the reference ships no test corpus, so the new engine's scalar
functions get generative coverage instead.

Invariants: the date parser never raises and always returns ordered
intervals whose epoch seconds agree with its own ISO strings; epoch-seconds
math is an exact bijection with Python's datetime over the CE range and
strictly monotonic across all years including BCE; WKT simplification never
raises, only removes vertices, and keeps endpoints.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from data_pipeline_spark.functions.dates import epoch_seconds, parse_datetime
from data_pipeline_spark.functions.geometry import rdp_simplify

# ---------------------------------------------------------------- dates


@given(st.text(max_size=40))
@settings(max_examples=300, deadline=None)
def test_parse_datetime_total_function(s):
    """Arbitrary text: never raises; any result is a well-formed interval."""
    r = parse_datetime(s)
    if r is not None:
        b, e, bs, es = r
        assert isinstance(b, str) and isinstance(e, str)
        assert bs <= es


@given(
    st.integers(min_value=1, max_value=9999),
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=28),
    st.integers(min_value=0, max_value=23),
    st.integers(min_value=0, max_value=59),
    st.integers(min_value=0, max_value=59),
)
@settings(max_examples=200, deadline=None)
def test_epoch_seconds_bijection_with_datetime(y, mo, d, h, mi, s):
    expect = int(
        (
            dt.datetime(y, mo, d, h, mi, s, tzinfo=dt.timezone.utc)
            - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        ).total_seconds()
    )
    assert epoch_seconds(y, mo, d, h, mi, s) == expect


@given(st.integers(min_value=-5000, max_value=5000))
@settings(max_examples=200, deadline=None)
def test_epoch_seconds_year_monotonic_incl_bce(y):
    assert epoch_seconds(y + 1, 1, 1) - epoch_seconds(y, 1, 1) in (
        365 * 86400,
        366 * 86400,
    )


@given(st.integers(min_value=-4999, max_value=4500))
@settings(max_examples=200, deadline=None)
def test_parse_iso_year_interval_consistency(y):
    """ISO year strings parse to [Jan 1, Dec 31] with matching seconds.
    Capped at 4500: greater years are Hebrew-calendar dates (F1 tail,
    properties below)."""
    iso = f"{'-' if y < 0 else ''}{abs(y):04d}"
    r = parse_datetime(iso)
    if y == 0:
        return  # year 0 only reachable via explicit -0000/0000 forms
    assert r is not None
    b, e, bs, es = r
    assert bs == epoch_seconds(y, 1, 1)
    assert es == epoch_seconds(y, 12, 31, 23, 59, 59)


@given(st.integers(min_value=4501, max_value=6500))
@settings(max_examples=100, deadline=None)
def test_hebrew_year_lengths_valid(y):
    """Vendored Hebrew arithmetic: every year length is one of the six
    halachically possible values, and the parsed bare-year interval spans
    exactly that many days."""
    from data_pipeline_spark.functions.dates import _hebrew_elapsed_days

    n = _hebrew_elapsed_days(y + 1) - _hebrew_elapsed_days(y)
    assert n in (353, 354, 355, 383, 384, 385)
    b, e, bs, es = parse_datetime(str(y))
    assert es - bs == n * 86400 - 1


@given(
    st.integers(min_value=4501, max_value=6500),
    st.integers(min_value=1, max_value=13),
    st.integers(min_value=1, max_value=29),
)
@settings(max_examples=200, deadline=None)
def test_hebrew_dates_map_to_consecutive_gregorian_days(y, m, d):
    """Round-trip vs epoch seconds: a valid Hebrew date parses with
    begin_sec == epoch_seconds of its Gregorian conversion, and the next
    Hebrew day within the month is exactly one Gregorian day later."""
    from data_pipeline_spark.functions.dates import hebrew_to_gregorian

    g = hebrew_to_gregorian(y, m, d)
    if g is None:
        assert parse_datetime(f"{y}-{m:02d}-{d:02d}") is None
        return
    r = parse_datetime(f"{y}-{m:02d}-{d:02d}")
    assert r is not None and r[2] == epoch_seconds(*g)
    g2 = hebrew_to_gregorian(y, m, d + 1)
    if g2 is not None:
        assert epoch_seconds(*g2) - epoch_seconds(*g) == 86400


# ------------------------------------------------------------- geometry

coords = st.lists(
    st.tuples(
        st.floats(-180, 180, allow_nan=False, width=32),
        st.floats(-90, 90, allow_nan=False, width=32),
    ),
    min_size=2,
    max_size=40,
)


@given(coords, st.floats(0.0001, 10.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_rdp_simplify_invariants(pts, eps):
    pts = [(float(x), float(y)) for x, y in pts]
    out = rdp_simplify(pts, eps)
    assert len(out) <= len(pts)
    assert out[0] == pts[0] and out[-1] == pts[-1]
    # every kept point is an original point, in order
    it = iter(pts)
    assert all(p in pts for p in out)


# --------------------------------------------------------------- d20 props
# Corpus-level paragraph dedup vs its DuckDB oracle on PATHOLOGICAL
# corpora: empty/whitespace docs, all-duplicate docs, split-eating
# punctuation runs, Unicode sentence content.  NBSP (\\xa0) and vertical
# tab (\\x0b) are in deliberately: they caught DuckDB trim() stripping
# NBSP where Spark's trims only ASCII space, and Java \\s matching
# \\x0b where RE2's does not — both now pinned (trim(x, ' ') in the
# oracle, an explicit whitespace class in the split).  The alphabet avoids
# characters whose lower() differs between engines (Turkish İ, ß, final
# sigma) — collation parity is not what d20 claims; ownership election
# and reassembly are.
_D20_ALPHABET = "ab z.!?。、\t\n\x0b\xa0é漱石𝄞-"

_d20_sentence = st.text(alphabet=_D20_ALPHABET, max_size=12)
_d20_doc = st.one_of(
    st.just(""),
    st.just("   "),
    st.just(". . ."),
    st.lists(_d20_sentence, max_size=5).map(lambda ss: ". ".join(ss)),
)


@settings(max_examples=12, deadline=None)
@given(st.data())
def test_d20_paragraph_dedup_matches_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    docs = data.draw(st.lists(_d20_doc, min_size=1, max_size=12))
    # force corpus-level duplicates: repeat one document verbatim
    dup = data.draw(st.integers(0, len(docs) - 1))
    docs = docs + [docs[dup]]

    sf = tmp_path_factory.mktemp("d20prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    q = QUERIES["d20_paragraph_dedup"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
        assert ok, msg
    finally:
        con.close()


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_d19_contamination_matches_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    """Same harness as the d20 test for the n-gram contamination join:
    the pinned whitespace class and trim(x, ' ') must agree across
    engines on NBSP/VT/Unicode corpora."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET.replace(".", "") + "cd", min_size=1,
                   max_size=6)
    doc = st.lists(word, max_size=12).map(" ".join)
    docs = data.draw(st.lists(doc, min_size=1, max_size=10))
    docs = docs + [docs[data.draw(st.integers(0, len(docs) - 1))]]

    sf = tmp_path_factory.mktemp("d19prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    q = QUERIES["d19_benchmark_contamination"]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
        assert ok, msg
    finally:
        con.close()


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_d21_d23_match_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    """The round-5 curation scans share d19/d20's pinned tokenization
    (explicit whitespace class, trim(x, ' ')); d21 adds ratio divisions
    and rule thresholds, d23 an md5-derived integer fold.  Both must
    agree with DuckDB on NBSP/VT/Unicode/empty corpora."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET.replace(".", "") + "cd#", min_size=1,
                   max_size=6)
    doc = st.one_of(
        st.just(""),
        st.just("   "),
        st.lists(word, max_size=12).map(" ".join),
    )
    docs = data.draw(st.lists(doc, min_size=1, max_size=10))

    sf = tmp_path_factory.mktemp("d21prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        for name in ("d21_gopher_quality", "d23_hashed_linear_score"):
            q = QUERIES[name]
            ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
            assert ok, f"{name}: {msg}"
    finally:
        con.close()


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_d01_d54_match_oracle_on_nbsp_edged_corpora(
    spark, tmp_path_factory, data
):
    """d01's fingerprint and d54's normalizer trim with Spark's trim,
    which keeps a leading or trailing U+00A0; their DuckDB twins must
    spell trim(x, ' ') to agree.  Doc 0, which d01 always duplicates,
    is NBSP-edged; the rest mix NBSP-edged words with the empty,
    blank and multi-word documents of the d21/d23 corpora."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET.replace(".", "") + "cd", min_size=1,
                   max_size=6)
    nbsp_edged = word.map(lambda w: "\xa0" + w + "\xa0")
    doc = st.one_of(
        st.just(""),
        st.just("   "),
        st.lists(word, max_size=12).map(" ".join),
        nbsp_edged,
    )
    docs = [data.draw(nbsp_edged)] + data.draw(st.lists(doc, max_size=10))

    sf = tmp_path_factory.mktemp("d01prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        for name in ("d01_dedup_exact", "d54_unicode_normalize"):
            q = QUERIES[name]
            ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
            assert ok, f"{name}: {msg}"
    finally:
        con.close()


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_window_curation_ops_match_oracle_on_ties(
    spark, tmp_path_factory, data
):
    """d22/d24/d25 rank and cumsum behind windows — ties are where
    cross-engine determinism bugs hide, so the generated corpora force
    them: few sources, constant-length texts, duplicate n_chars."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    n = data.draw(st.integers(4, 30))
    n_sources = data.draw(st.integers(1, 3))
    # constant or near-constant text length -> n_chars/n_words tie storms
    word = data.draw(st.sampled_from(["aa", "bb"]))
    texts = [
        " ".join([word] * data.draw(st.integers(1, 3))) for _ in range(n)
    ]
    sf = tmp_path_factory.mktemp("d22prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array([f"s{i % n_sources}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        for name in ("d22_domain_cap", "d24_corpus_shuffle_shards",
                     "d25_mixture_budget_sample"):
            q = QUERIES[name]
            ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
            assert ok, f"{name}: {msg}"
    finally:
        con.close()


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_d29_chunking_invariants(spark, tmp_path_factory, data):
    """Chunk geometry invariants on arbitrary corpora: starts advance by
    the stride, consecutive chunks overlap by exactly OVERLAP tokens
    (except the ragged tail), every token is covered, and chunk_toks
    matches the slice the hash was taken over."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.text4 import _CHUNK, _OVERLAP

    n = data.draw(st.integers(1, 6))
    texts = [
        " ".join(f"w{j}" for j in range(data.draw(st.integers(1, 120))))
        for _ in range(n)
    ]
    sf = tmp_path_factory.mktemp("d29prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    rows = QUERIES["d29_doc_chunking"].spark_fn(spark, str(sf)).collect()
    stride = _CHUNK - _OVERLAP
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(n))
    for doc_id, chunks in by_doc.items():
        n_toks = len(texts[doc_id].split())
        chunks.sort(key=lambda r: r.chunk_idx)
        for i, r in enumerate(chunks):
            assert r.chunk_idx == i
            assert r.start_tok == i * stride + 1
            assert r.chunk_toks == min(_CHUNK, n_toks - i * stride)
        last = chunks[-1]
        # full coverage: the last chunk reaches the final token
        assert last.start_tok + last.chunk_toks - 1 == n_toks
        # and no unnecessary extra chunk was emitted
        if len(chunks) > 1:
            assert chunks[-2].start_tok + _CHUNK - 1 < n_toks


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_d07_minhash_matches_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    """The dedup family's tokenization is now the pinned whitespace
    class + trim(x, ' ') (review finding: it was `\\s+`/bare trim, which
    diverges between engines on VT/NBSP text); generative corpora with
    those characters pin the parity through the full MinHash pipeline."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.dedup import clear_tier_cache

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET.replace(".", "") + "cd", min_size=1,
                   max_size=5)
    doc = st.lists(word, min_size=3, max_size=10).map(" ".join)
    docs = data.draw(st.lists(doc, min_size=2, max_size=8))
    docs = docs + [docs[data.draw(st.integers(0, len(docs) - 1))]]  # a dup

    sf = tmp_path_factory.mktemp("d07prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    clear_tier_cache()
    try:
        q = QUERIES["d07_minhash_lsh_pairs"]
        ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
        assert ok, msg
    finally:
        clear_tier_cache()
        con.close()


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_near_condition_matches_python_reference(spark, data):
    """The planner's row-local NEAR filter (token positions via
    transform + nested exists) must agree with a naive Python
    implementation on arbitrary word soups, including repeated words,
    absent words, and distance edge cases."""
    import re as _re

    from pyspark.sql import functions as F

    from data_pipeline_spark.plans.parser import Leaf, Near
    from data_pipeline_spark.plans.planner import SearchPlanner

    vocab = ["aa", "bb", "cc", "aa1"]
    sentence = st.lists(st.sampled_from(vocab), min_size=0, max_size=8).map(" ".join)
    names = data.draw(st.lists(sentence, min_size=1, max_size=12))
    w1, w2 = data.draw(st.sampled_from(vocab)), data.draw(st.sampled_from(vocab))
    dist = data.draw(st.integers(min_value=0, max_value=3))

    def py_near(text: str) -> bool:
        toks = _re.split(r"\W+", text.lower())
        p1 = [i for i, t in enumerate(toks) if t == w1]
        p2 = [i for i, t in enumerate(toks) if t == w2]
        return any(abs(a - b) <= dist for a in p1 for b in p2)

    entities = spark.createDataFrame(
        [(str(i), n) for i, n in enumerate(names)], ["id", "name"]
    )
    edges = spark.createDataFrame([], "subject string, predicate string, object string")
    planner = SearchPlanner(entities, edges)
    node = Near([Leaf("name", "~", w1), Leaf("name", "~", w2)], dist)
    got = {r.id for r in entities.filter(planner._near_condition(node)).collect()}
    want = {str(i) for i, n in enumerate(names) if py_near(n)}
    assert got == want, (names, w1, w2, dist, got, want)


@given(
    st.integers(min_value=1000, max_value=9998),
    st.integers(min_value=0, max_value=200),
)
@settings(max_examples=200, deadline=None)
def test_year_ranges_are_ordered_across_calendar_boundary(y0, span):
    """Ranges and masks never emit inverted intervals, even straddling
    the 4500 Hebrew boundary: the calendar is decided once per span from
    its start year."""
    y1 = min(y0 + span, 9999)
    r = parse_datetime(f"{y0}-{y1}")
    assert r is not None
    b, e, bs, es = r
    assert bs <= es, (y0, y1, r)


@settings(max_examples=10, deadline=None)
@given(st.data())
@pytest.mark.slow  # full-coverage tier (r16 split): fast siblings cover the surface
def test_d33_d34_match_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    """Same harness as the d07 pathological test for the two new dedup
    tiers: the signature-agreement estimate (d33) and the 64-bit
    fingerprint (d34) — VT/NBSP/Unicode corpora with a forced duplicate
    pin the full cross-engine pipeline, including the two's-complement
    64-bit assembly and the first-shared-band single emission."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.dedup import clear_tier_cache

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET.replace(".", "") + "cd", min_size=1,
                   max_size=5)
    doc = st.lists(word, min_size=3, max_size=10).map(" ".join)
    docs = data.draw(st.lists(doc, min_size=2, max_size=8))
    docs = docs + [docs[data.draw(st.integers(0, len(docs) - 1))]]  # a dup

    sf = tmp_path_factory.mktemp("d3334prop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    clear_tier_cache()
    try:
        for name in ("d33_minhash_estimate_pairs", "d34_simhash64_pairs"):
            q = QUERIES[name]
            ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
            assert ok, (name, msg)
    finally:
        clear_tier_cache()
        con.close()


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_d10_d31_bpe_tokenization_matches_oracle_on_pathological_corpora(
    spark, tmp_path_factory, data
):
    """The BPE pre-tokenizer's whitespace is the pinned explicit class
    (\\s diverges between Java and RE2 on \\x0b): VT/NBSP/Unicode
    corpora pin d10's per-class counts and d31's merge scoring across
    engines."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.queries import QUERIES

    from .oracle_harness import compare

    word = st.text(alphabet=_D20_ALPHABET + "c7!", min_size=1, max_size=6)
    doc = st.lists(word, min_size=0, max_size=8).map(" ".join)
    docs = data.draw(st.lists(doc, min_size=1, max_size=10))

    sf = tmp_path_factory.mktemp("bpeprop")
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(docs)), pa.int64()),
            "text": pa.array(docs, pa.string()),
        }),
        str(sf / "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    try:
        for name in ("d10_bpe_token_counts", "d31_bpe_merge_scores"):
            q = QUERIES[name]
            ok, msg = compare(q.spark_fn(spark, str(sf)), con, q.oracle)
            assert ok, (name, msg)
    finally:
        con.close()


def test_d35_tier_layering_consistent_with_d07(spark):
    """Cross-operator consistency of the layered verify: every d35 row
    routes per the declared thresholds (estimate-accept at >= 7/8
    agreement, exact for the borderline band with the SAME Jaccard d07
    computes, silence below), each pair appears once, and the tiers are
    COMPLETE — every borderline d07 pair re-surfaces as 'exact', every
    high-agreement candidate as 'estimate'."""
    from data_pipeline_spark.queries import QUERIES
    from data_pipeline_spark.queries.dedup import (
        EST_ACCEPT,
        EST_REJECT,
        JACCARD_T,
        _estimate_pairs_tier,
    )

    sf = "/root/testdata/sf0.001"
    rows35 = QUERIES["d35_tiered_pairs"].spark_fn(spark, sf).collect()
    d07 = {
        (r.id_a, r.id_b): r.jaccard
        for r in QUERIES["d07_minhash_lsh_pairs"].spark_fn(spark, sf).collect()
    }
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in _estimate_pairs_tier(spark, sf).collect()
    }
    pairs35 = {(r.id_a, r.id_b): (r.sim, r.method) for r in rows35}
    assert len(pairs35) == len(rows35)  # no pair emitted twice
    assert pairs35, "tiered pairs must be non-trivial at sf0.001"
    for (a, b), (sim, method) in pairs35.items():
        e = est[(a, b)]
        if method == "estimate":
            assert e >= EST_ACCEPT and sim == e
        else:
            assert EST_REJECT <= e < EST_ACCEPT
            assert sim >= JACCARD_T and abs(d07[(a, b)] - sim) < 1e-9
    for (a, b), j in d07.items():
        if EST_REJECT <= est[(a, b)] < EST_ACCEPT:
            assert pairs35[(a, b)][1] == "exact"
    for (a, b), e in est.items():
        if e >= EST_ACCEPT:
            assert pairs35[(a, b)][1] == "estimate"


# -------------------------------------------- closure / skew primitives


def _uf_components(edges):
    """Python union-find reference: node -> min reachable node id."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _closure_routes_agree(spark, edges, schema):
    """Both closure routes — the local gather (default threshold) and the
    distributed star rounds (threshold -1) — must equal the union-find
    reference, and keep the input's node type.  The engine drops edges
    with a null endpoint and self-loops, so a node seen only there gets
    no label; the reference is fed the same edges."""
    from data_pipeline_spark.pipeline.closure import connected_components

    want = set(
        _uf_components(
            [(a, b) for a, b in edges if a is not None and b is not None and a != b]
        ).items()
    )
    df = spark.createDataFrame(edges, schema)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    routes = {}
    try:
        for threshold in (prev, "-1"):
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
            stats: dict = {}
            out = connected_components(df, stats=stats)
            assert out.schema["node"].dataType == df.schema["src"].dataType
            assert out.schema["component"].dataType == df.schema["src"].dataType
            routes[stats["algorithm"]] = {(r.node, r.component) for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert set(routes) == {"local", "star"}
    for route, got in routes.items():
        assert got == want, f"{route} diverged: {sorted(got ^ want)[:10]}"


@settings(max_examples=6, deadline=None)
@given(st.data())
@pytest.mark.slow  # full-coverage tier (r16 split): the fast sibling covers the surface
def test_closure_routes_agree_on_random_graphs(spark, data):
    """local and star closure equal a Python union-find reference on
    random graphs — duplicates, reversals, self-loops, null endpoints,
    multiple components, long (> 2^32) or string ids, empty input, and
    an optional planted long chain that takes the star path several
    rounds."""
    n = data.draw(st.integers(min_value=2, max_value=25))
    end = st.one_of(st.none(), st.integers(0, n))
    raw = data.draw(st.lists(st.tuples(end, end), min_size=0, max_size=50))
    if data.draw(st.booleans()):
        raw = raw + [(100 + i, 101 + i) for i in range(30)]
    if data.draw(st.booleans()):
        edges = [
            tuple(None if x is None else 5_000_000_000 + x for x in e) for e in raw
        ]
        schema = "src bigint, dst bigint"
    else:
        edges = [tuple(None if x is None else f"n{x:03d}" for x in e) for e in raw]
        schema = "src string, dst string"
    _closure_routes_agree(spark, edges, schema)


def test_closure_routes_agree_fast(spark):
    """Fast sibling of the random-graph test: one long-id graph with every
    kind of noise (duplicate, reversed, self-loop, null endpoint, a
    self-loop-only node) plus a string chain, and the empty input."""
    big = 5_000_000_000
    noisy = [
        (big + 2, big + 1), (big + 2, big + 3), (big + 3, big + 2),
        (big + 1, big + 3), (big + 1, big + 3), (big + 9, big + 9),
        (big + 7, None), (None, big + 8), (big + 7, big + 8),
    ]
    _closure_routes_agree(spark, noisy, "src bigint, dst bigint")
    chain = [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(12)] + [("x", "y")]
    _closure_routes_agree(spark, chain, "src string, dst string")
    _closure_routes_agree(spark, [], "src string, dst string")


_HK_KEY = st.sampled_from(["hot", "k1", "k2", "k3", "absent_side"])


@settings(max_examples=8, deadline=None)
@given(st.data())
def test_hot_key_salted_join_matches_plain_join(spark, data):
    """hot_key_salted_join == plain join as a row MULTISET for every
    supported how, across random tables, thresholds and salt counts —
    including duplicate rows on both sides (multiplicity is where a
    wrong split double-counts)."""
    from collections import Counter

    from data_pipeline_spark.operators.skew import hot_key_salted_join

    big_rows = data.draw(
        st.lists(st.tuples(st.integers(0, 999), _HK_KEY), min_size=1, max_size=40)
    )
    right_rows = data.draw(
        st.lists(st.tuples(_HK_KEY, st.integers(0, 9)), min_size=0, max_size=12)
    )
    how = data.draw(st.sampled_from(["inner", "left", "left_semi", "left_anti"]))
    thr = data.draw(st.sampled_from([0, 2, 5, 10**6]))
    n_salts = data.draw(st.sampled_from([1, 3, 8]))

    big = spark.createDataFrame(big_rows, "row_id bigint, k string")
    right = spark.createDataFrame(right_rows, "k string, v bigint")
    plain = Counter(tuple(r) for r in big.join(right, "k", how).collect())
    got = Counter(
        tuple(r)
        for r in hot_key_salted_join(
            big, right, "k", spread_cols=["row_id"],
            n_salts=n_salts, hot_threshold=thr, how=how,
        ).collect()
    )
    assert got == plain


# ------------------------------------------- entity-stream delta fold

_fold_keys = [f"k{i}" for i in range(6)]


@settings(max_examples=10, deadline=None)
@given(st.data())
def test_entity_state_fold_matches_sequential_model(
    spark, tmp_path_factory, data
):
    """The merge-on-read fold's winner rule (streaming/entity_stream
    ._fold_tier) against a sequential reference model: folding base +
    deltas in one pass must equal applying each delta in order
    (state = (state \\ touched) ∪ delta_rows).  Generates deletions
    (touched, zero rows), recreations, multi-row keys, keys absent from
    base, and empty deltas — the shapes the chain-level tests can't
    isolate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.streaming.entity_stream import _fold_tier
    from data_pipeline_spark.streaming.index_util import run_batch_key

    base_keys = data.draw(st.lists(
        st.sampled_from(_fold_keys), unique=True, max_size=6))
    n_deltas = data.draw(st.integers(0, 3))
    deltas = []
    for i in range(n_deltas):
        touched = data.draw(st.lists(
            st.sampled_from(_fold_keys), unique=True, max_size=6))
        rows = {
            k: data.draw(st.integers(0, 2), label=f"rows d{i} {k}")
            for k in touched
        }
        deltas.append((touched, rows))

    work = tmp_path_factory.mktemp("foldprop")
    state_dir = str(work / "state")
    ckpt = str(work / "ckpt")

    def yuids(k, n, tag):
        return [(k, f"{tag}-{k}-{j}") for j in range(n)]

    def write(path, pairs):
        pq.write_table(
            pa.table({
                "yuid": pa.array([p[0] for p in pairs], pa.string()),
                "data": pa.array([p[1] for p in pairs], pa.string()),
            }),
            path + ".parquet",
        )

    import os as _os

    # base: one row per base key, as a one-bucket store base
    _os.makedirs(f"{state_dir}/merged/v=base")
    write(f"{state_dir}/merged/v=base/b0.0", [(k, f"base-{k}") for k in base_keys])
    with open(f"{state_dir}/merged/v=base/_META.json", "w") as f:
        f.write('{"buckets": 1, "key": ["yuid"]}')
    model = {k: [f"base-{k}"] for k in base_keys}

    for i, (touched, rows) in enumerate(deltas):
        key = run_batch_key(ckpt, i)
        _os.makedirs(f"{state_dir}/merged/d={key}")
        delta_pairs = [p for k in touched for p in yuids(k, rows[k], f"d{i}")]
        write(f"{state_dir}/merged/d={key}/part", delta_pairs)
        _os.makedirs(f"{state_dir}/touched/d={key}")
        pq.write_table(
            pa.table({
                "tier": pa.array(["merged"] * len(touched), pa.string()),
                "k": pa.array(touched, pa.string()),
            }),
            f"{state_dir}/touched/d={key}/part.parquet",
        )
        for k in touched:
            model[k] = [f"d{i}-{k}-{j}" for j in range(rows[k])]

    got = sorted(
        (r["yuid"], r["data"])
        for r in _fold_tier(spark, state_dir, ckpt, "merged",
                            list(range(n_deltas))).collect()
    )
    want = sorted((k, v) for k, vs in model.items() for v in vs)
    assert got == want


@settings(max_examples=6, deadline=None)
@given(st.data())
def test_bucketed_compaction_matches_sequential_model(
    spark, tmp_path_factory, data
):
    """compact_entity_state at an arbitrary CUT POINT in the crawl
    sequence must be invisible to the fold: commit deltas[:c], compact
    (the store's bucketed partial rewrite), commit the rest, fold — the
    result must equal the sequential apply model, and a final compaction
    must leave base-only state with the same rows.  Exercises deletions
    (down to an emptied tier), recreations, multi-row keys, new keys,
    empty deltas, and an empty base."""
    import json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_pipeline_spark.streaming.entity_stream import (
        _fold_tier,
        compact_entity_state,
    )
    from data_pipeline_spark.streaming.index_util import (
        run_batch_key,
        write_bucketed_base,
    )

    base_keys = data.draw(st.lists(
        st.sampled_from(_fold_keys), unique=True, max_size=6))
    n_deltas = data.draw(st.integers(0, 3))
    cut = data.draw(st.integers(0, n_deltas))
    deltas = []
    for i in range(n_deltas):
        touched = data.draw(st.lists(
            st.sampled_from(_fold_keys), unique=True, max_size=6))
        rows = {
            k: data.draw(st.integers(0, 2), label=f"rows d{i} {k}")
            for k in touched
        }
        deltas.append((touched, rows))

    work = tmp_path_factory.mktemp("compactprop")
    state_dir = str(work / "state")
    ckpt = str(work / "ckpt")

    def write_pairs(path, pairs, cols=("yuid", "data")):
        pq.write_table(
            pa.table({
                cols[0]: pa.array([p[0] for p in pairs], pa.string()),
                cols[1]: pa.array([p[1] for p in pairs], pa.string()),
            }),
            path + ".parquet",
        )

    # merged base (the tier under test, 4 buckets) + minimal one-bucket
    # records/idmap bases so compaction's all-tier pass has real dirs
    write_bucketed_base(
        spark.createDataFrame(
            [(k, f"base-{k}") for k in base_keys], "yuid string, data string"
        ),
        f"{state_dir}/merged/v=base", ["yuid"], 4,
    )
    model = {k: [f"base-{k}"] for k in base_keys}

    for tier, key in (("records", "get_json_object(data, '$.id')"),
                      ("idmap", "yuid")):
        _os.makedirs(f"{state_dir}/{tier}/v=base")
        with open(f"{state_dir}/{tier}/v=base/_META.json", "w") as f:
            json.dump({"buckets": 1, "key": [key]}, f)
    pq.write_table(
        pa.table({"data": pa.array(['{"id":"dummy"}'], pa.string())}),
        f"{state_dir}/records/v=base/b0.0.parquet",
    )
    write_pairs(f"{state_dir}/idmap/v=base/b0.0", [("du", "dy")],
                cols=("qua_uri", "yuid"))

    empty_records = pa.table({"data": pa.array([], pa.string())})
    empty_idmap = pa.table({
        "qua_uri": pa.array([], pa.string()),
        "yuid": pa.array([], pa.string()),
    })
    for i, (touched, rows) in enumerate(deltas):
        key = run_batch_key(ckpt, i)
        _os.makedirs(f"{state_dir}/merged/d={key}")
        write_pairs(
            f"{state_dir}/merged/d={key}/part",
            [(k, f"d{i}-{k}-{j}") for k in touched for j in range(rows[k])],
        )
        for tier, tbl in (("records", empty_records), ("idmap", empty_idmap)):
            _os.makedirs(f"{state_dir}/{tier}/d={key}")
            pq.write_table(tbl, f"{state_dir}/{tier}/d={key}/part.parquet")
        _os.makedirs(f"{state_dir}/touched/d={key}")
        pq.write_table(
            pa.table({
                "tier": pa.array(["merged"] * len(touched), pa.string()),
                "k": pa.array(touched, pa.string()),
            }),
            f"{state_dir}/touched/d={key}/part.parquet",
        )
        for k in touched:
            model[k] = [f"d{i}-{k}-{j}" for j in range(rows[k])]

    commits = _os.path.join(ckpt, "commits")
    _os.makedirs(commits)

    def commit(i):
        open(_os.path.join(commits, str(i)), "w").close()

    def folded():
        ids = sorted(
            i for i in range(n_deltas)
            if _os.path.isdir(f"{state_dir}/touched/d={run_batch_key(ckpt, i)}")
        )
        return sorted(
            (r["yuid"], r["data"])
            for r in _fold_tier(spark, state_dir, ckpt, "merged", ids).collect()
        )

    for i in range(cut):
        commit(i)
    compact_entity_state(spark, state_dir, ckpt)
    for i in range(cut, n_deltas):
        commit(i)

    want = sorted((k, v) for k, vs in model.items() for v in vs)
    assert folded() == want

    # final compaction folds the rest; base-only state, same rows
    compact_entity_state(spark, state_dir, ckpt)
    assert folded() == want
    leftover = [d for d in _os.listdir(f"{state_dir}/merged")
                if d.startswith("d=")]
    assert leftover == []
