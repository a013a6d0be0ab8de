"""Text-analysis and deduplication operators over the `documents` table.

These are the training-data-pipeline operators (dedup, quality scoring,
language ID, token counting, fingerprinting) built as declared queries with
DuckDB oracles. All logic stays JVM-side (built-in functions), so at 100TB
these are single-scan whole-stage-codegen pipelines; only MinHash signatures
(see pipeline/dedup.py) need a vectorized UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.strings import WS, content_fp, content_fp_sql, words, words_sql
from .registry import query

# Deterministic language marker words (shared Spark/DuckDB logic; the
# reference's analog is the 3->2-letter language map F15 + per-language name
# priorities of process/base/mapper.py:47-114).
_LANG_MARKERS = {
    "en": ("the", "fast", "small"),
    "es": ("data", "key", "order"),
    "de": ("window", "batch", "stream"),
    "fr": ("join", "merge", "sort"),
    "zh": ("spark", "vector", "query"),
}

# The d04 quality rule, the one every quality-gated stage applies (d04,
# d13, d36, d41, d48): at least QUALITY_MIN_TOKENS whitespace tokens, and
# fewer than QUALITY_MAX_STOP of them in STOPWORDS.
STOPWORDS = ("the", "a", "of", "and")
QUALITY_MIN_TOKENS = 20
QUALITY_MAX_STOP = 0.5


def quality_counts(text: F.Column) -> tuple[F.Column, F.Column]:
    """(n_tokens, n_stop) of the quality rule over a text column."""
    n_tokens = F.size(words(text, False))
    n_stop = F.size(F.filter(words(text, True), lambda t: t.isin(*STOPWORDS)))
    return n_tokens, n_stop


def quality_ok(n_tokens: F.Column, n_stop: F.Column) -> F.Column:
    """The quality rule's verdict over quality_counts' two columns."""
    return (n_tokens >= QUALITY_MIN_TOKENS) & (
        (n_stop.cast("double") / n_tokens) < QUALITY_MAX_STOP
    )


def quality_counts_sql(expr: str) -> str:
    """DuckDB twin of quality_counts: the n_tokens and n_stop select items."""
    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"len({words_sql(expr, False)}) AS n_tokens,\n"
        f"len(list_filter({words_sql(expr, True)}, t -> t IN ({stop}))) AS n_stop"
    )


# DuckDB twin of quality_ok, over the n_tokens and n_stop columns
QUALITY_OK_SQL = (
    f"n_tokens >= {QUALITY_MIN_TOKENS} "
    f"AND CAST(n_stop AS DOUBLE) / n_tokens < {QUALITY_MAX_STOP}"
)


@query(
    "d01_dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0
    )
    SELECT fp, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, md5(lower(trim(text, ' '))) AS fp FROM corpus)
    GROUP BY fp HAVING COUNT(*) > 1
    """,
    survey="dedup-exact",
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a normalized-content fingerprint, keep
    min doc_id. One shuffle on the 32-char digest; at 100TB, map-side
    partial agg shrinks it to ~distinct-count rows. The synthetic corpus
    has no exact duplicates, so every 20th document is re-keyed and
    unioned back in — a 0-row gate would be vacuously green; this one
    must find exactly the injected copies."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    return (
        docs.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "d02_fingerprint",
    oracle=f"""
    SELECT doc_id, {content_fp_sql("text")} AS fingerprint
    FROM documents
    """,
    survey="fingerprint",
)
def d02_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whitespace-normalized content digest
    (the reference's dedupe-by-lowercased-content A3, merger.py:750-842)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        content_fp(F.col("text")).alias("fingerprint"),
    )


@query(
    "d03_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({words_sql("text", False)}) AS n_tokens,
           length(text) AS n_chars_computed,
           n_chars
    FROM documents
    """,
    survey="token-count",
)
def d03_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char counts, verified against
    the table's own n_chars column."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words(F.col("text"), False)).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        "n_chars",
    )


@query(
    "d04_quality_score",
    oracle=f"""
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(length(text) AS DOUBLE) / n_tokens AS avg_token_len,
           CASE WHEN {QUALITY_OK_SQL} THEN 'keep' ELSE 'drop' END AS verdict
    FROM (
      SELECT doc_id, text, {quality_counts_sql("text")}
      FROM documents
    )
    """,
    survey="quality-score",
)
def d04_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio heuristics with a
    keep/drop verdict. Ratios are single-division doubles on identical
    operands → bit-exact across engines."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens, n_stop = quality_counts(F.col("text"))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
        (F.length("text").cast("double") / n_tokens).alias("avg_token_len"),
        F.when(quality_ok(n_tokens, n_stop), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("verdict"),
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"len(list_filter({words_sql('text', True)}, t -> t IN ({markers})))"


@query(
    "d05_lang_id",
    oracle=f"""
    SELECT doc_id, lang,
           CASE GREATEST(
                  {_lang_score_sql('en')} * 10 + 4,
                  {_lang_score_sql('es')} * 10 + 3,
                  {_lang_score_sql('de')} * 10 + 2,
                  {_lang_score_sql('fr')} * 10 + 1,
                  {_lang_score_sql('zh')} * 10 + 0)
                % 10
             WHEN 4 THEN 'en' WHEN 3 THEN 'es' WHEN 2 THEN 'de'
             WHEN 1 THEN 'fr' ELSE 'zh' END AS predicted_lang
    FROM documents
    """,
    survey="lang-id",
)
def d05_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by marker-word voting: argmax over per-language marker
    counts with a deterministic priority tiebreak (encode score*10+prio,
    take GREATEST, decode). Pure integer arithmetic → engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    low_toks = words(F.col("text"), True)
    prio = {"en": 4, "es": 3, "de": 2, "fr": 1, "zh": 0}
    encoded = [
        (F.size(F.filter(low_toks, lambda t: t.isin(*_LANG_MARKERS[lang]))) * 10 + p)
        for lang, p in prio.items()
    ]
    best = F.greatest(*encoded) % 10
    pred = (
        F.when(best == 4, "en")
        .when(best == 3, "es")
        .when(best == 2, "de")
        .when(best == 1, "fr")
        .otherwise("zh")
    )
    return docs.select("doc_id", "lang", pred.alias("predicted_lang"))


@query(
    "a16_top5_words",
    oracle=f"""
    SELECT word, n FROM (
        SELECT word, COUNT(*) AS n
        FROM (SELECT unnest({words_sql("text", True)}) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    ) ORDER BY n DESC, word LIMIT 5
    """,
    survey="A16,W7",
)
def a16_top5_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-frequency top-k (A16, ml_lexer.py:65-87: similar-query keyword
    synthesis): explode(split) + count + ordered limit with tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words(F.col("text"), True)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(5)
    )


_D06_ORACLE = f"""
    WITH shingles AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
            FROM (SELECT doc_id, {words_sql("text", True)} AS toks
                  FROM documents)
            WHERE len(toks) >= 3
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_both
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) AS jaccard
    FROM inter JOIN sizes sa ON inter.doc_a = sa.doc_id
               JOIN sizes sb ON inter.doc_b = sb.doc_id
    WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.6
    """


D06_MAX_DOCS = 100_000  # d06's corpus-size guard


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): the distinct 3-word shingles of each document."""
    toks = words(F.col("text"), True)
    with_toks = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)
    return with_toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
            )
        ).alias("shingle"),
    ).distinct()


def _jaccard_pairs(inter: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard) of the ``inter`` pairs (doc_a, doc_b,
    n_both) whose shingle-set Jaccard reaches ``threshold``."""
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("n_both").cast("double") / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_both")
    )
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


@query("d06_ngram_jaccard_pairs", oracle=_D06_ORACLE, survey="dedup-ngram-jaccard")
def d06_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by 3-gram Jaccard >= 0.6: shingle -> inverted
    index self-join -> intersection counts -> Jaccard. This exact-Jaccard
    form is the oracle twin of the MinHash/LSH scale path
    (queries/dedup.py): LSH banding replaces the full shingle self-join
    with bucketed candidate generation at 100TB.  Deliberately quadratic
    in hot shingles — guarded against accidental large-corpus use: it
    refuses corpora above D06_MAX_DOCS."""
    docs = load_table(spark, sf_dir, "documents")
    # limit(k+1).count() short-circuits the scan at the threshold — the
    # guard's cost is bounded by D06_MAX_DOCS rows, never a full corpus count
    n = docs.limit(D06_MAX_DOCS + 1).count()
    if n > D06_MAX_DOCS:
        raise ValueError(
            f"d06_ngram_jaccard_pairs is the quadratic small-SF oracle twin "
            f"(>{D06_MAX_DOCS} docs); use d07_minhash_lsh_pairs for large "
            f"corpora."
        )
    shingles = _doc_shingles(docs)
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return _jaccard_pairs(inter, shingles, 0.6)


@query(
    "f10_webpage_dedupe",
    oracle="""
    WITH pages AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 3 = 0
                    THEN 'http://www.example.org/c/' || (c_custkey // 3)
                    WHEN c_custkey % 3 = 1
                    THEN 'https://example.org/c/' || (c_custkey // 3) || '/'
                    ELSE 'example.org/c/' || (c_custkey // 3) END AS url
        FROM customer
    ),
    normed AS (
        SELECT c_custkey,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     CASE WHEN url LIKE 'http://%' OR url LIKE 'https://%'
                          THEN url ELSE 'https://' || url END,
                     '^http://', 'https://'),
                   '^https://www\\.', 'https://'),
                 '/$', '') AS norm_url
        FROM pages
    )
    SELECT norm_url, MIN(c_custkey) AS keeper, COUNT(*) AS n_variants
    FROM normed GROUP BY norm_url HAVING COUNT(*) > 1
    """,
    survey="A10,F10",
)
def f10_webpage_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webpage dedupe (A10, final/mapper.py:713-776): scheme default,
    http->https, www-strip, trailing-slash strip — three URL variants per
    key collapse onto one normalized form; keep the first."""
    from ..functions.strings import normalize_url

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    url = (
        F.when(k % 3 == 0, F.concat(F.lit("http://www.example.org/c/"), (k / 3).cast("bigint").cast("string")))
        .when(k % 3 == 1, F.concat(F.lit("https://example.org/c/"), (k / 3).cast("bigint").cast("string"), F.lit("/")))
        .otherwise(F.concat(F.lit("example.org/c/"), (k / 3).cast("bigint").cast("string")))
    )
    return (
        c.select(k.alias("c_custkey"), normalize_url(url).alias("norm_url"))
        .groupBy("norm_url")
        .agg(F.min("c_custkey").alias("keeper"), F.count(F.lit(1)).alias("n_variants"))
        .filter(F.col("n_variants") > 1)
    )


@query(
    "f12_identifier_fix",
    oracle=r"""
    SELECT c_custkey,
           regexp_replace(
             regexp_replace(
               regexp_replace(' "cust/' || c_custkey || '.html" ',
                              '[[:space:]''"]+', '', 'g'),
               '\.html$', ''),
             '/$', '') AS fixed
    FROM customer
    """,
    survey="F12,F13",
)
def f12_identifier_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identifier cleanup (F12, config.py:171-186): strip whitespace,
    quotes, trailing .html — applied to a synthesized dirty identifier."""
    from ..functions.strings import fix_identifier

    cust = load_table(spark, sf_dir, "customer")
    dirty = F.concat(
        F.lit(' "cust/'), F.col("c_custkey").cast("string"), F.lit('.html" ')
    )
    return cust.select("c_custkey", fix_identifier(dirty).alias("fixed"))


@query(
    "f25_qua_roundtrip",
    oracle="""
    SELECT c_custkey,
           'https://x.test/c/' || c_custkey || '##qua' || 'Person' AS qua,
           'https://x.test/c/' || c_custkey AS uri_back,
           'Person' AS type_back
    FROM customer
    """,
    survey="F25",
)
def f25_qua_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qua algebra (F25, config.py:130-145): make the ##qua-suffixed form
    and split it back — the boundary codec between the reference's
    string-suffix typing and the engine's two-column model."""
    from ..functions.strings import make_qua, split_qua

    cust = load_table(spark, sf_dir, "customer")
    uri = F.concat(F.lit("https://x.test/c/"), F.col("c_custkey").cast("string"))
    qua = make_qua(uri, F.lit("Person"))
    with_qua = cust.select("c_custkey", qua.alias("qua"))
    u, t = split_qua(F.col("qua"))
    return with_qua.select("c_custkey", "qua", u.alias("uri_back"), t.alias("type_back"))


@query(
    "f11_wikimedia_munge",
    oracle="""
    SELECT c_custkey,
           CASE
             WHEN c_custkey % 3 = 0 THEN
               'https://commons.wikimedia.org/wiki/special:filepath/Portrait_'
               || c_custkey || '.jpg'
             WHEN c_custkey % 3 = 1 THEN
               'https://commons.wikimedia.org/wiki/special:filepath/Img_'
               || c_custkey || '.png'
             ELSE 'https://example.org/iiif/' || c_custkey
           END AS norm_ap
    FROM customer
    """,
    survey="F11",
)
def f11_wikimedia_munge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 (final/mapper.py:105-122): wikimedia Special:FilePath access
    points normalized — https, lowercased path, ?width strip, %20->_ —
    over synthesized dirty variants (http + %20 + ?width; uppercase path;
    a non-wikimedia passthrough).  The oracle states the expected OUTPUT
    literally, so this is a golden test of the munge rules, not a
    reimplementation on the DuckDB side."""
    from ..functions.strings import normalize_wikimedia_url

    c = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = (
        F.when(
            k % 3 == 0,
            F.concat(
                F.lit("http://commons.wikimedia.org/wiki/Special:FilePath/Portrait%20"),
                k.cast("string"),
                F.lit(".jpg?width=300"),
            ),
        )
        .when(
            k % 3 == 1,
            F.concat(
                F.lit("https://COMMONS.wikimedia.org/WIKI/Special:FilePath/Img_"),
                k.cast("string"),
                F.lit(".png"),
            ),
        )
        .otherwise(F.concat(F.lit("https://example.org/iiif/"), k.cast("string")))
    )
    return c.select("c_custkey", normalize_wikimedia_url(dirty).alias("norm_ap"))


_TWO_TO_BIB = {"de": "ger", "en": "eng", "es": "spa", "fr": "fre", "zh": "chi"}


def _f15_oracle() -> str:
    from ..functions.strings import sql_normalize_lang

    bib = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _TWO_TO_BIB.items())
    uri = f"'http://vocab.example/iso639-2/' || (CASE lang {bib} ELSE lang END)"
    return f"""
    SELECT lang, {sql_normalize_lang(uri)} AS lang_norm, COUNT(*) AS n_docs
    FROM documents GROUP BY lang, lang_norm
    """


@query("f15_lang_normalize", oracle=_f15_oracle(), survey="F15")
def f15_lang_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15 (process/base/mapper.py:47-112): ISO 639-2 -> 639-1 language
    normalization. Each document's 2-letter lang is rendered as its
    BIBLIOGRAPHIC 3-letter variant URI (ger/fre/chi — the aliases that
    differ from the terminological codes), then normalized back through
    the lang_three_to_two map; both engines generate the map from the same
    dict, so any drift in the table itself fails the hash."""
    from ..functions.strings import normalize_lang

    docs = load_table(spark, sf_dir, "documents")
    bib = F.col("lang")
    for k, v in _TWO_TO_BIB.items():
        bib = F.when(F.col("lang") == k, F.lit(v)).otherwise(bib)
    uri = F.concat(F.lit("http://vocab.example/iso639-2/"), bib)
    return (
        docs.select("lang", normalize_lang(uri).alias("lang_norm"))
        .groupBy("lang", "lang_norm")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "f08_clean_names",
    oracle=r"""
    SELECT c_custkey,
           lower(trim(regexp_replace(c_name,
               '[\x{200B}-\x{200F}\x{202A}-\x{202E}#]', '', 'g'))) AS name_clean
    FROM customer
    """,
    survey="F8,P6",
)
def f08_clean_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_names (F8, process/base/reconciler.py:58-59): strip zero-width
    and bidi control characters, lowercase, trim — the reconcile join key."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.lower(
            F.trim(
                F.regexp_replace(
                    F.col("c_name"), r"[\x{200B}-\x{200F}\x{202A}-\x{202E}#]", ""
                )
            )
        ).alias("name_clean"),
    )


@query(
    "d14_winnowing_fingerprints",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id,
               gen.i AS pos,
               md5(toks[gen.i] || ' ' || toks[gen.i + 1] || ' ' || toks[gen.i + 2]) AS h,
               len(toks) - 2 AS n_grams
        FROM (SELECT doc_id, {words_sql("text", True)} AS toks
              FROM documents),
             LATERAL unnest(range(1, len(toks) - 1)) AS gen(i)
        WHERE len(toks) >= 3
    ),
    windowed AS (
        SELECT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
               pos, n_grams
        FROM grams
    )
    SELECT DISTINCT doc_id, fp
    FROM windowed WHERE pos <= n_grams - 3
    """,
    survey="fingerprint-winnowing",
)
def d14_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by WINNOWING (the MOSS
    selection rule): hash every 3-word gram, slide a window of 4
    consecutive gram hashes, keep each window's minimum — documents
    sharing any selected fingerprint are copy-candidates, and the
    selected set is ~1/window_size of all grams, so the fingerprint
    index is a bounded fraction of the corpus. One scan, one window,
    one distinct; all md5/substr inside codegen."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words(F.col("text"), True)
    grams = (
        docs.select(F.col("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(
            "doc_id",
            (F.size("toks") - 2).alias("n_grams"),
            F.posexplode(
                F.expr(
                    "transform(sequence(1, size(toks) - 2),"
                    " i -> md5(concat_ws(' ', toks[i-1], toks[i], toks[i+1])))"
                )
            ).alias("pos0", "h"),
        )
        .select("doc_id", "n_grams", (F.col("pos0") + 1).alias("pos"), "h")
    )
    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    return (
        grams.select("doc_id", "pos", "n_grams", F.min("h").over(w).alias("fp"))
        .filter(F.col("pos") <= F.col("n_grams") - 3)
        .select("doc_id", "fp")
        .distinct()
    )


@query(
    "d15_repetition_ratio",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
        FROM (SELECT doc_id, {words_sql("text", True)} AS toks
              FROM documents)
        WHERE len(toks) >= 3
    )
    SELECT doc_id,
           CAST(len(grams) AS INT) AS n_grams,
           CAST(len(list_distinct(grams)) AS INT) AS n_distinct,
           CAST(1 AS DOUBLE)
             - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) AS rep_ratio
    FROM g
    """,
    survey="quality-repetition",
)
def d15_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-3-gram fraction per document — the standard repetition
    quality signal for LLM training-data curation (templated/boilerplate
    text scores high and gets filtered). Single scan, all JVM-side
    higher-order functions, one row per doc — map-only at 100TB. The
    final double division is a single correctly-rounded op, identical
    bits in Spark and DuckDB (the repo's float determinism contract)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words(F.col("text"), True)
    g = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 3)
    # sequence(0, size-3) never descends here: the filter guarantees
    # size-3 >= 0 (the sequence-descends gotcha needs no guard)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda i: F.concat_ws(
            " ",
            F.get(F.col("toks"), i),
            F.get(F.col("toks"), i + 1),
            F.get(F.col("toks"), i + 2),
        ),
    )
    n_grams = F.size(grams)
    n_distinct = F.size(F.array_distinct(grams))
    return g.select(
        "doc_id",
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct"),
        (F.lit(1).cast("double") - n_distinct.cast("double") / n_grams).alias("rep_ratio"),
    )


# NOTE: the d-family numbering skips d50 (d49 -> d51) — a round-9
# numbering accident.  Kept as a gap on purpose: renumbering would orphan
# the committed CORRECTNESS/BENCH history that records these names.
_D51_T_NUM, _D51_T_DEN = 3, 5  # Jaccard threshold 0.6 as an exact rational


@query("d51_prefix_filter_jaccard", oracle=_D06_ORACLE, survey="dedup-ngram-jaccard")
def d51_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard >= 0.6 pairs via prefix filtering (the PPJoin family,
    Xiao et al. 2008 / Chaudhuri et al. 2006) — the exact-result scale
    path next to d07's approximate MinHash: order each document's
    shingles by global rarity (ascending document frequency, shingle
    tiebreak) and index only the first |S| - ceil(t|S|) + 1 of them.
    Any two sets with Jaccard >= t share >= ceil(t*max(|A|,|B|))
    elements, so their first common shingle in the global order provably
    falls inside BOTH prefixes — candidate generation on the prefix
    relation is LOSSLESS, and the gate proves it: the oracle is d06's
    brute-force all-pairs SQL verbatim, so any pair the filter dropped
    would hash-mismatch.

    Scale shape: the inverted-index self-join — the quadratic-in-hot-
    shingles stage d06 is guarded against — runs over the PREFIX
    relation only, and rare-first ordering puts exactly the LEAST
    frequent shingles in the prefixes, so the hottest posting lists
    never enter the candidate join at all (the d06 docstring's 100 TB
    concern, solved exactly rather than approximately).  Verification
    is candidate-bounded: each candidate pair rejoins its two shingle
    sets for the exact intersection count.  Measured at sf0.01: 165
    candidate pairs enter verification vs 11,533 from the plain
    inverted-index join (70x) for the identical 25-pair result; at the
    mirrored 50k-doc corpus (SCALE.md, "Measured scaling curve (round
    9)"): 5.2x less wall-clock, 3.9x fewer candidates, byte-identical
    250,600 pairs.  Prefix lengths use integer
    arithmetic (ceil(3n/5) = (3n+4) div 5) — no float boundary can
    shorten a prefix below the proof's bound."""
    docs = load_table(spark, sf_dir, "documents")
    shingles = _doc_shingles(docs)
    dfreq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    w_doc = W.partitionBy("doc_id").orderBy("dfreq", "shingle")
    w_n = W.partitionBy("doc_id")
    ordered = (
        shingles.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
    )
    # prefix length |S| - ceil(t|S|) + 1, t = 3/5 in TRUE integer
    # arithmetic: SQL `div` keeps the whole computation in longs
    # (ADVICE r9 — the previous `/` + floor was double division, only
    # exact while 3n+4 < 2^53, weaker than the docstring's guarantee).
    prefix_len = F.col("n") - F.expr(
        f"({_D51_T_NUM} * n + {_D51_T_DEN - 1}) div {_D51_T_DEN}"
    ) + 1
    prefix = ordered.filter(F.col("pos") <= prefix_len).select("doc_id", "shingle")
    cands = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # candidate-bounded exact verification: rejoin both shingle sets
    inter = (
        cands.join(
            shingles.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            shingles.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return _jaccard_pairs(inter, shingles, _D51_T_NUM / _D51_T_DEN)


def nfc_normalize_col():
    """Vectorized NFC normalization (Arrow-batched pandas_udf) — Spark
    has no built-in Unicode normalizer, so this is a deliberate Python
    boundary (SCALE.md inventory), shaped like the date-tail UDF: one
    Series in, one Series out, never per-row Python in the driver."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _nfc(texts):
        import unicodedata

        return texts.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    _nfc.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_nfc, "string")


@query(
    "d54_unicode_normalize",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(
                   nfc_normalize(text || ' cafe' || chr(769) || '  ' ||
                                 chr(8203) || 'x' || chr(3) || 'y'),
                   '[\\x00-\\x08\\x0e-\\x1f\\x7f\\x{{200b}}-\\x{{200d}}\\x{{feff}}]',
                   '', 'g'),
               '{WS}', ' ', 'g'), ' ') AS norm_text
    FROM documents
    """,
    survey="text-normalize,F8,F14",
)
def d54_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization — the curation step every real corpus
    pipeline runs before tokenization/dedup: NFC composition (combining
    sequences fold to precomposed forms, so 'e'+U+0301 == U+00E9 for
    every downstream fingerprint), control-character strip, zero-width
    strip (U+200B-200D, U+FEFF), whitespace collapse + trim.  NFC runs
    in an Arrow-batched pandas_udf (Spark has no built-in normalizer);
    the strips/collapse are JVM regexp_replace.  The synthetic documents
    are ASCII, so the gate PLANTS a decomposed-accent + zero-width +
    control-char tail on every row — both engines build the identical
    input (Spark escapes == chr() calls), so the oracle (DuckDB
    nfc_normalize, the same Unicode NFC) verifies the composition
    actually happened, not a pass-through."""
    docs = load_table(spark, sf_dir, "documents")
    planted = F.concat(F.col("text"), F.lit(" cafe\u0301  \u200bx\x03y"))
    nfc = nfc_normalize_col()(planted)
    stripped = F.regexp_replace(
        nfc, "[\x00-\x08\x0e-\x1f\x7f\u200b-\u200d\ufeff]", ""
    )
    collapsed = F.trim(F.regexp_replace(stripped, WS, " "))
    return docs.select("doc_id", collapsed.alias("norm_text"))
