"""Corpus curation operators, part 2: Gopher-style quality rules,
per-domain document caps, hashed-linear quality scoring, deterministic
corpus shuffling, and mixture-budget sampling (the d-family extensions
round 5 adds).

None of these exist in the reference (its text handling is names and
labels, not corpus hygiene); all five are standard stages in a
large-scale LLM training-data build and all five stay JVM-side:

- **d21 Gopher quality rules**: the published Gopher/MassiveText
  repetition-free document filters — word-count bounds, mean word
  length bounds, alphabetic-word fraction, symbol-to-word ratio,
  stopword presence — computed in ONE projection over the tokenized
  text (higher-order array functions, no explode, no shuffle).  At
  100 TB this is a pure scan: every rule is a per-row expression.
- **d22 per-domain cap**: keep at most K documents per domain (the
  dedup-adjacent curation step that stops a single crawl domain from
  dominating the corpus).  Scale shape: a broadcast of the (bounded)
  over-cap domain list routes ONLY over-cap domains through the
  row_number window — under-cap domains (the overwhelming majority of
  a web crawl) never enter the window shuffle.
- **d23 hashed-linear score**: a fastText-shaped linear text classifier
  over hashed bag-of-words features.  Real deployments broadcast a
  trained weight table; here the weight of a token is derived from its
  md5 (a deterministic stand-in with the same plan shape) so the
  operator is oracle-checkable.  Integer arithmetic end-to-end — the
  fold is exact, so the score is engine-identical by construction.
- **d24 corpus shuffle**: RNG-free global permutation into training
  shards — md5 routing at the scan, rank windows partitioned per shard.
- **d25 mixture sampling**: per-source token-budget prefix sampling in
  deterministic md5 order (the hit-the-mixture-proportions step); one
  cumsum window partitioned by source.
- **d26 curation pipeline**: the full pass composed end-to-end
  (quality -> scrub -> exact-dup keeper -> domain cap -> shard route),
  gating the stages' INTERACTION under one oracle — three shuffles at
  any corpus size.
- **d27 incremental dedup**: each-crawl-vs-all-previous admission
  against a fingerprint-only index of the prior builds.
- **d28 top-n-gram coverage**: the remaining Gopher repetition signals
  (top-2/3/4-gram character fractions).
- **d29 chunking**: fixed-size token chunks with overlap + per-chunk
  hashes; a pure scan fan-out.
- **d30 rare keywords**: per-doc lowest-df keyword extraction —
  integer-exact IDF ranking.

The d21 plants (numeric tokens on doc_id%7, ``#`` symbols on
doc_id%11) make the alpha/symbol rules non-vacuous on the synthetic
corpus, which carries only lowercase words organically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from .registry import query
from ..functions.strings import WS, content_fp, content_fp_sql, words, words_sql
from .text3 import EMAIL_RE, IPV4_RE, PHONE_RE, PII_TAIL_SQL, pii_tail

_STOPWORDS = ("the", "a", "of", "to", "and", "in")
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def gopher_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the Gopher/MassiveText quality metrics + verdict to ``df``
    (library form — the d21 query and the streaming curation stage both
    run exactly this).  All per-row expressions: stream-safe, no shuffle."""
    t = words(F.col(text_col), True)
    n = F.size(t)
    m = df.withColumns({
        "n_words": n.cast("bigint"),
        "mean_word_len": F.length(F.concat_ws("", t)).cast("double") / n,
        "alpha_frac": F.size(F.filter(t, lambda w: w.rlike("[a-z]"))).cast("double") / n,
        "symbol_ratio": F.size(
            F.filter(t, lambda w: (w == "#") | (w == "..."))
        ).cast("double") / n,
        "stopword_hits": F.size(F.filter(t, lambda w: w.isin(*_STOPWORDS))).cast("bigint"),
    })
    passes = (
        F.col("n_words").between(50, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("alpha_frac") >= 0.8)
        & (F.col("symbol_ratio") <= 0.1)
        & (F.col("stopword_hits") >= 2)
    )
    return m.withColumn(
        "verdict", F.when(passes, F.lit("keep")).otherwise(F.lit("drop"))
    )


def gopher_metrics_sql(t: str) -> str:
    """DuckDB twin of gopher_metrics: the five metric columns over the
    token-list column ``t`` (a SELECT-list fragment)."""
    return f"""CAST(len({t}) AS BIGINT) AS n_words,
               CAST(len(array_to_string({t}, '')) AS DOUBLE) / len({t}) AS mean_word_len,
               CAST(len(list_filter({t}, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
                   / len({t}) AS alpha_frac,
               CAST(len(list_filter({t}, w -> w = '#' OR w = '...')) AS DOUBLE)
                   / len({t}) AS symbol_ratio,
               CAST(len(list_filter({t}, w -> w IN ({_STOP_SQL}))) AS BIGINT)
                   AS stopword_hits"""


# DuckDB twin of gopher_metrics' keep verdict, over the metric columns
GOPHER_KEEP_SQL = (
    "n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3 AND 10"
    " AND alpha_frac >= 0.8 AND symbol_ratio <= 0.1 AND stopword_hits >= 2"
)


@query(
    "d21_gopher_quality",
    oracle=rf"""
    WITH planted AS (
        SELECT doc_id,
               text
                 || CASE WHEN doc_id % 7 = 0 THEN ' 404 500' ELSE '' END
                 || CASE WHEN doc_id % 11 = 0 THEN ' # # #' ELSE '' END AS text
        FROM documents
    ),
    toks AS (
        SELECT doc_id,
               {words_sql("text", True)} AS t
        FROM planted
    ),
    m AS (
        SELECT doc_id, {gopher_metrics_sql("t")}
        FROM toks
    )
    SELECT doc_id, n_words, mean_word_len, alpha_frac, symbol_ratio,
           stopword_hits,
           CASE WHEN {GOPHER_KEEP_SQL} THEN 'keep' ELSE 'drop' END AS verdict
    FROM m
    """,
    survey="dedup-gopher-quality",
)
def d21_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText document-quality rules in one scan: word-count
    bounds [50, 100000], mean word length [3, 10], >=80% of words
    containing an alphabetic character, symbol-to-word ratio <= 0.1
    (``#``/ellipsis), and >=2 stopword hits.  Every metric is a
    higher-order array expression over one tokenization — no explode, no
    shuffle, whole-stage codegen; the verdict is the conjunction.  The
    ratio columns are raw IEEE divisions of exact integers, identical
    across engines (same contract as d04).  Plants (numeric tokens on
    doc_id%7, symbol tokens on doc_id%11) exercise the alpha and symbol
    rules, which the all-lowercase synthetic corpus never would."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(k % 7 == 0, F.lit(" 404 500")).otherwise(F.lit("")),
            F.when(k % 11 == 0, F.lit(" # # #")).otherwise(F.lit("")),
        ).alias("text"),
    )
    return gopher_metrics(planted).drop("text")


_DOMAIN_CAP = 18


@query(
    "d22_domain_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (PARTITION BY source
                                       ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS cnt
        FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN cnt > {_DOMAIN_CAP} THEN rn END AS rnk,
           (cnt <= {_DOMAIN_CAP} OR rn <= {_DOMAIN_CAP}) AS kept
    FROM ranked
    """,
    survey="dedup-domain-cap",
)
def d22_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most K=_DOMAIN_CAP (18) documents
    per source domain, ranked by (n_chars DESC, doc_id) — the curation
    step that stops one crawl domain dominating the corpus.

    Scale shape: a first groupBy counts documents per domain; the
    over-cap domain list (a tiny fraction of a web crawl's domain set)
    broadcasts, and ONLY over-cap domains go through the row_number
    window — under-cap domains (the long tail, most of the data) are
    passed through kept=true without entering the window shuffle.  rnk
    is NULL for pass-through domains, which is what lets the plan skip
    ranking them."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    counts = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    over = counts.filter(F.col("cnt") > _DOMAIN_CAP).select("source")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    capped = (
        docs.join(F.broadcast(over), "source")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .select(
            "doc_id", "source", "rnk",
            (F.col("rnk") <= _DOMAIN_CAP).alias("kept"),
        )
    )
    passthrough = (
        docs.join(F.broadcast(over), "source", "left_anti")
        .select(
            "doc_id", "source",
            F.lit(None).cast("bigint").alias("rnk"),
            F.lit(True).alias("kept"),
        )
    )
    return capped.unionByName(passthrough)


@query(
    "d23_hashed_linear_score",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               {words_sql("text", True)} AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(t,
               w -> CAST(CAST(('0x' || substr(md5(w), 1, 8)) AS UBIGINT) AS BIGINT)
                    - 2147483648)) AS BIGINT) AS score,
           CASE WHEN list_sum(list_transform(t,
               w -> CAST(CAST(('0x' || substr(md5(w), 1, 8)) AS UBIGINT) AS BIGINT)
                    - 2147483648)) >= 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM toks
    """,
    survey="dedup-hashed-linear",
)
def d23_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped linear quality classifier over hashed
    bag-of-words features: each token hashes to a signed 32-bit weight,
    the document score is the exact integer sum, and the verdict is its
    sign.  A production deployment broadcasts a trained weight table
    keyed by feature hash; the plan shape is identical — per-row fold
    over the token array, one scan, no shuffle, no Python.  Here the
    weight IS the hash (md5 first 8 hex digits, centered), which makes
    the operator a deterministic cross-engine oracle while exercising
    the same fold."""
    docs = load_table(spark, sf_dir, "documents")
    t = words(F.col("text"), True)
    weight = lambda w: (  # noqa: E731
        F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
        - F.lit(2147483648).cast("long")
    )
    score = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, w: acc + weight(w)
    )
    return docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_words"),
        score.alias("score"),
        F.when(score >= 0, F.lit("keep")).otherwise(F.lit("drop")).alias("verdict"),
    )


_N_SHARDS = 8
_SHUF_SALT = "shuffle-v1:"


@query(
    "d24_corpus_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, k,
               CAST(CAST(('0x' || substr(k, 1, 4)) AS UINTEGER)
                    % {_N_SHARDS} AS INTEGER) AS shard
        FROM keyed
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
                AS BIGINT) AS pos
    FROM sharded
    """,
    survey="dedup-corpus-shuffle",
)
def d24_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards — the
    'shuffle the data before training' step, RNG-free so it is
    reproducible and incremental-safe.  Each document's permutation key
    is md5(salt || doc_id); the first 16 bits route it to one of
    N={_N_SHARDS} shards and pos is its rank within the shard in key
    order.  Scale shape: the shard route is a scan-side expression
    (balanced ~binomially across shards), and the rank window partitions
    BY SHARD, so the sort parallelizes per shard instead of funneling
    the corpus through a single global row_number partition.  A training
    job then reads shards in index order to get the permuted stream."""
    docs = load_table(spark, sf_dir, "documents")
    k = F.md5(F.concat(F.lit(_SHUF_SALT), F.col("doc_id").cast("string")))
    sharded = docs.select(
        "doc_id", k.alias("k"),
        (F.conv(F.substring(k, 1, 4), 16, 10).cast("int") % _N_SHARDS)
        .alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return sharded.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


_MIX_BUDGET_BASE = 2000
_MIX_SALT = "mix-v1:"


@query(
    "d25_mixture_budget_sample",
    oracle=rf"""
    WITH sized AS (
        SELECT doc_id, source,
               CAST(len({words_sql("text", True)}) AS BIGINT) AS n_words,
               md5('{_MIX_SALT}' || CAST(doc_id AS VARCHAR)) AS k,
               {_MIX_BUDGET_BASE}
                 + 1000 * (CAST(('0x' || substr(md5(source), 1, 4)) AS UINTEGER) % 3)
                 AS budget
        FROM documents
    ),
    run AS (
        SELECT doc_id, source, n_words, budget,
               SUM(n_words) OVER (PARTITION BY source ORDER BY k, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum_words
        FROM sized
    )
    SELECT doc_id, source, n_words, CAST(cum_words AS BIGINT) AS cum_words,
           (cum_words <= budget) AS kept
    FROM run
    """,
    survey="dedup-mixture-sample",
)
def d25_mixture_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling to a per-source token budget: each source
    (mixture component) keeps documents — in deterministic md5 order, so
    the sample is RNG-free and reproducible — until its cumulative word
    count exceeds the component's budget.  This is the 'hit the target
    mixture proportions' step of a training-data build.  The budget here
    derives from md5(source) (a deterministic stand-in for a config
    table, which would broadcast).  Scale shape: one window partitioned
    by source computes the running total; each component sorts
    independently, and the under-budget prefix is a per-row filter on
    the cumsum — no driver state, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(words(F.col("text"), True)).cast("bigint")
    k = F.md5(F.concat(F.lit(_MIX_SALT), F.col("doc_id").cast("string")))
    budget = (
        F.lit(_MIX_BUDGET_BASE)
        + F.lit(1000)
        * (F.conv(F.substring(F.md5(F.col("source")), 1, 4), 16, 10)
           .cast("long") % 3)
    )
    sized = docs.select(
        "doc_id", "source", n_words.alias("n_words"), k.alias("k"),
        budget.alias("budget"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("k", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sized.select(
        "doc_id", "source", "n_words",
        F.sum("n_words").over(w).cast("bigint").alias("cum_words"),
        (F.sum("n_words").over(w) <= F.col("budget")).alias("kept"),
    )


@query(
    "d26_curation_pipeline",
    oracle=rf"""
    WITH planted AS (
        SELECT doc_id, source, text || {PII_TAIL_SQL} AS text
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source, text, {gopher_metrics_sql("t")}
        FROM (SELECT *, {words_sql("text", True)} AS t
              FROM planted)
    ),
    quality AS (
        SELECT doc_id, source, text, n_words FROM scored
        WHERE {GOPHER_KEEP_SQL}
    ),
    scrubbed AS (
        SELECT doc_id, source, n_words,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g') AS clean
        FROM quality
    ),
    deduped AS (
        SELECT doc_id, source, n_words, md5(clean) AS scrub_md5 FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(clean)
                                         ORDER BY doc_id) AS dup_rn
            FROM scrubbed
        ) WHERE dup_rn = 1
    ),
    capped AS (
        SELECT doc_id, source, n_words, scrub_md5 FROM (
            SELECT *, row_number() OVER (PARTITION BY source
                                         ORDER BY n_words DESC, doc_id) AS cap_rn
            FROM deduped
        ) WHERE cap_rn <= {_DOMAIN_CAP}
    )
    SELECT doc_id, source, n_words, scrub_md5,
           CAST(CAST(('0x' || substr(md5('{_SHUF_SALT}' || CAST(doc_id AS VARCHAR)), 1, 4))
                AS UINTEGER) % {_N_SHARDS} AS INTEGER) AS shard
    FROM capped
    """,
    survey="dedup-curation-pipeline",
)
def d26_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pass as ONE composition — what a corpus build
    actually runs: Gopher quality gate -> PII scrub -> exact-dup removal
    (md5 keeper election) -> per-domain cap -> shard routing.  Each stage
    is the declared operator's own construction (d21/d18/d01/d22/d24
    schemes), so this query gates their interaction: a doc survives only
    if it passes quality on the PLANTED text, its SCRUBBED text is the
    first of its duplicate class, and it ranks inside its domain's cap.

    Scale shape: one scan feeds a scan-side quality filter + scrub, then
    two windows (dup class, domain) — both partitioned by high-cardinality
    keys — and a scan-side shard route.  Nothing quadratic, no driver
    state; the whole pipeline is three shuffles at any corpus size."""
    from .text3 import scrub_pii
    docs = load_table(spark, sf_dir, "documents")
    k = F.col("doc_id")
    planted = docs.select(
        "doc_id", "source", F.concat(F.col("text"), pii_tail(k)).alias("text")
    )
    # the quality gate IS gopher_metrics — the d21 construction applied
    # verbatim, so the pipeline and the standalone operator cannot drift
    # (a review caught an earlier inline copy silently missing the
    # symbol_ratio rule)
    quality = (
        gopher_metrics(planted)
        .filter(F.col("verdict") == "keep")
        .select("doc_id", "source", "text", "n_words")
    )
    scrubbed = quality.select(
        "doc_id", "source", "n_words",
        F.md5(scrub_pii(F.col("text"))).alias("scrub_md5"),
    )
    w_dup = Window.partitionBy("scrub_md5").orderBy("doc_id")
    deduped = (
        scrubbed.withColumn("dup_rn", F.row_number().over(w_dup))
        .filter(F.col("dup_rn") == 1)
    )
    w_cap = Window.partitionBy("source").orderBy(
        F.col("n_words").desc(), F.col("doc_id")
    )
    capped = (
        deduped.withColumn("cap_rn", F.row_number().over(w_cap))
        .filter(F.col("cap_rn") <= _DOMAIN_CAP)
    )
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(_SHUF_SALT), k.cast("string"))), 1, 4
            ), 16, 10,
        ).cast("int") % _N_SHARDS
    )
    return capped.select(
        "doc_id", "source", "n_words", "scrub_md5", shard.alias("shard")
    )


_PREV_MOD = 4  # doc_id % 4 == 0 plays the previously-ingested corpus
_SHARED_MOD = 23  # planted shared-boilerplate docs (guaranteed prev dups)
_BATCHDUP_MOD = 29  # planted new-only duplicates (guaranteed batch dups)
def _dup_planted_sql(src: str) -> str:
    """The ``planted`` CTE over relation ``src``: _dup_planted's DuckDB
    twin."""
    return f"""planted AS (
        SELECT doc_id,
               CASE WHEN doc_id % {_SHARED_MOD} = 0
                    THEN 'shared boilerplate page ' || CAST(doc_id % 3 AS VARCHAR)
                    WHEN doc_id % {_BATCHDUP_MOD} = 0 AND doc_id % {_PREV_MOD} != 0
                    THEN 'batch duplicate page'
                    ELSE text END AS text
        FROM {src}
    )"""


def _dup_planted(docs: DataFrame) -> DataFrame:
    """(doc_id, text) with the d27/d48/d49 duplicate plants (the Spark
    twin of _dup_planted_sql): shared boilerplate on every doc_id %
    _SHARED_MOD, one batch-duplicate text on new doc_id % _BATCHDUP_MOD."""
    k = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.when(
            k % _SHARED_MOD == 0,
            F.concat(F.lit("shared boilerplate page "), (k % 3).cast("string")),
        )
        .when(
            (k % _BATCHDUP_MOD == 0) & (k % _PREV_MOD != 0),
            F.lit("batch duplicate page"),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


@query(
    "d27_incremental_dedup",
    oracle=rf"""
    WITH {_dup_planted_sql("documents")},
    fp AS (
        SELECT doc_id,
               {content_fp_sql("text")} AS fingerprint,
               (doc_id % {_PREV_MOD} = 0) AS is_prev
        FROM planted
    ),
    prev AS (SELECT DISTINCT fingerprint FROM fp WHERE is_prev),
    novel AS (
        SELECT f.doc_id, f.fingerprint,
               (p.fingerprint IS NOT NULL) AS seen_before,
               row_number() OVER (PARTITION BY f.fingerprint
                                  ORDER BY f.doc_id) AS rn
        FROM fp f LEFT JOIN prev p ON f.fingerprint = p.fingerprint
        WHERE NOT f.is_prev
    )
    SELECT doc_id, fingerprint,
           (NOT seen_before AND rn = 1) AS admitted,
           CASE WHEN seen_before THEN 'in_prev_build'
                WHEN rn > 1 THEN 'dup_in_batch'
                ELSE 'novel' END AS reason
    FROM novel
    """,
    survey="dedup-incremental",
)
def d27_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-build dedup — the each-crawl-vs-all-previous
    check every continuously-ingested corpus runs: a new batch admits a
    document only if its content fingerprint (d02's normalized md5) is
    absent from the previous build's fingerprint index AND it is the
    first of its duplicate class within the batch.  doc_id % 4 == 0
    plays the previous corpus; every rejection carries its reason.  A
    planted shared-boilerplate text on doc_id % 23 == 0 (rotating over 3
    variants, spanning prev and new docs) guarantees in_prev_build
    rejections, and a constant text planted ONLY on new docs
    (doc_id % 29 == 0, not prev) guarantees dup_in_batch ones — the
    synthetic corpus has no organic exact duplicates.

    Scale shape: the previous-build index is a fingerprint-only table
    (16 bytes/doc — far smaller than the corpus) joined on the hash; the
    in-batch election is one window on the fingerprint.  Admitted docs'
    fingerprints then append to the index for the next build (the sink
    side of R5's seen-dedupe, here as the corpus-level operator)."""
    planted = _dup_planted(load_table(spark, sf_dir, "documents"))
    fp = planted.select(
        "doc_id",
        content_fp(F.col("text")).alias("fingerprint"),
        (F.col("doc_id") % _PREV_MOD == 0).alias("is_prev"),
    )
    prev = fp.filter("is_prev").select("fingerprint").distinct()
    new = fp.filter(~F.col("is_prev"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    novel = (
        new.join(
            prev.withColumn("seen", F.lit(True)), "fingerprint", "left"
        )
        .withColumn("seen_before", F.coalesce("seen", F.lit(False)))
        .withColumn("rn", F.row_number().over(w))
    )
    return novel.select(
        "doc_id", "fingerprint",
        (~F.col("seen_before") & (F.col("rn") == 1)).alias("admitted"),
        F.when(F.col("seen_before"), F.lit("in_prev_build"))
        .when(F.col("rn") > 1, F.lit("dup_in_batch"))
        .otherwise(F.lit("novel")).alias("reason"),
    )


def _gram_col(n: int) -> F.Column:
    """Overlapping word n-grams of the ``toks`` array column (0-based
    gets; callers filter size(toks) >= n so the sequence never descends)."""
    return F.transform(
        F.sequence(F.lit(0), F.size("toks") - n),
        lambda i: F.concat_ws(
            " ", *[F.get(F.col("toks"), i + j) for j in range(n)]
        ),
    )


@query(
    "d28_top_ngram_fractions",
    oracle=rf"""
    WITH toked AS (
        SELECT doc_id,
               {words_sql("text", True)} AS toks,
               CAST(len(regexp_replace(lower(trim(text, ' ')), '{WS}', ' ', 'g'))
                    AS BIGINT) AS norm_len
        FROM documents
    ),
    grams AS (
        SELECT doc_id, norm_len, n, unnest(gs) AS gram FROM (
            SELECT doc_id, norm_len, 2 AS n,
                   list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS gs
            FROM toked WHERE len(toks) >= 2
            UNION ALL
            SELECT doc_id, norm_len, 3,
                   list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
            FROM toked WHERE len(toks) >= 3
            UNION ALL
            SELECT doc_id, norm_len, 4,
                   list_transform(range(1, len(toks) - 2),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])
            FROM toked WHERE len(toks) >= 4
        )
    ),
    counted AS (
        SELECT doc_id, norm_len, n, gram, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM grams GROUP BY ALL
    )
    SELECT doc_id, n, gram AS top_gram, cnt AS top_count,
           CAST(cnt * len(gram) AS DOUBLE) / norm_len AS char_frac
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                     ORDER BY cnt DESC, gram) AS rn
        FROM counted
    ) WHERE rn = 1
    """,
    survey="quality-top-ngram",
)
def d28_top_ngram_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining Gopher repetition signals: for n in (2, 3, 4), the
    fraction of the document's normalized characters covered by
    occurrences of its MOST COMMON word n-gram (long form: one row per
    (doc, n); ties broken to the lexically smallest gram).  Together
    with d15's duplicate-3-gram fraction this completes the published
    repetition ruleset.

    Scale shape: three tagged gram explodes union into ONE
    (doc, n, gram) count — partial aggregation combines per doc
    map-side — and one (doc, n)-partitioned top-1 window; same
    two-shuffle shape as a16 at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), WS, " ")
    toked = docs.select(
        "doc_id",
        words(F.col("text"), True).alias("toks"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )

    # ONE scan for all three gram widths: each width's grams tag
    # themselves with n inside a struct array, the arrays concatenate
    # row-locally, and a single explode yields the (doc, n, gram)
    # relation — a three-branch union would re-scan the corpus per
    # branch (only exchanges are reused across union arms, not scans)
    def tagged(n: int) -> F.Column:
        return F.when(
            F.size("toks") >= n,
            F.transform(
                _gram_col(n),
                lambda g: F.struct(
                    F.lit(n).cast("int").alias("n"), g.alias("gram")
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n: int, gram: string>>"))

    grams = toked.select(
        "doc_id", "norm_len",
        F.explode(F.concat(tagged(2), tagged(3), tagged(4))).alias("x"),
    ).select(
        "doc_id", "norm_len",
        F.col("x").getField("n").alias("n"),
        F.col("x").getField("gram").alias("gram"),
    )
    counted = grams.groupBy("doc_id", "norm_len", "n", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("doc_id", "n").orderBy(F.col("cnt").desc(), "gram")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "n", F.col("gram").alias("top_gram"),
            F.col("cnt").alias("top_count"),
            ((F.col("cnt") * F.length("gram")).cast("double") / F.col("norm_len"))
            .alias("char_frac"),
        )
    )


_CHUNK, _OVERLAP = 32, 8  # tokens per chunk / overlap (stride 24)


@query(
    "d29_doc_chunking",
    oracle=rf"""
    WITH toked AS (
        SELECT doc_id,
               {words_sql("text", True)} AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_toks,
               generate_subscripts(starts, 1) - 1 AS chunk_idx,
               unnest(starts) AS start_tok
        FROM (SELECT doc_id, toks,
                     list_transform(
                         range(1, greatest(1,
                             CAST(ceil(CAST(greatest(len(toks) - {_OVERLAP}, 1) AS DOUBLE)
                                       / {_CHUNK - _OVERLAP}) AS BIGINT)) + 1),
                         i -> (i - 1) * {_CHUNK - _OVERLAP} + 1) AS starts
              FROM toked)
    )
    SELECT c.doc_id,
           CAST(c.chunk_idx AS INT) AS chunk_idx,
           CAST(c.start_tok AS BIGINT) AS start_tok,
           CAST(len(t.toks[c.start_tok:c.start_tok + {_CHUNK - 1}]) AS BIGINT)
               AS chunk_toks,
           md5(array_to_string(t.toks[c.start_tok:c.start_tok + {_CHUNK - 1}], ' '))
               AS chunk_md5
    FROM chunks c JOIN toked t USING (doc_id)
    """,
    survey="dedup-chunking",
)
def d29_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap — the split-long-documents
    step of a pretraining/RAG pipeline: each document becomes ceil((n -
    overlap) / stride) chunks of _CHUNK (32) tokens at stride _CHUNK -
    _OVERLAP (24), the last chunk ragged.  Emits (chunk_idx, start, size,
    md5 of the joined chunk) per chunk so downstream chunk-level dedup
    can run on the hashes.  Row-local: the start list is a per-row
    transform and the chunk slice/hash is computed in the explode
    projection — a pure scan with a fan-out, no shuffle, no state."""
    docs = load_table(spark, sf_dir, "documents")
    stride = _CHUNK - _OVERLAP
    toked = docs.select("doc_id", words(F.col("text"), True).alias("toks"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil(
            F.greatest(F.size("toks") - _OVERLAP, F.lit(1)).cast("double")
            / stride
        ).cast("long"),
    )
    starts = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda i: (i - 1) * stride + 1,
    )
    chunked = toked.select(
        "doc_id", "toks",
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    piece = F.slice(F.col("toks"), F.col("start_tok"), _CHUNK)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.size(piece).cast("bigint").alias("chunk_toks"),
        F.md5(F.array_join(piece, " ")).alias("chunk_md5"),
    )


_N_KEYWORDS = 3


@query(
    "d30_rare_keywords",
    oracle=rf"""
    WITH dtok AS (
        SELECT DISTINCT doc_id, unnest(
            {words_sql("text", True)}) AS tok
        FROM documents
    ),
    dfreq AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM dtok GROUP BY tok
    )
    SELECT doc_id, CAST(rn AS INT) AS rank, tok AS keyword, df
    FROM (
        SELECT d.doc_id, d.tok, f.df,
               row_number() OVER (PARTITION BY d.doc_id
                                  ORDER BY f.df, d.tok) AS rn
        FROM dtok d JOIN dfreq f USING (tok)
    ) WHERE rn <= {_N_KEYWORDS}
    """,
    survey="quality-keywords",
)
def d30_rare_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-keyword extraction: the _N_KEYWORDS (3) tokens of
    each document with the LOWEST corpus document frequency (integer df,
    token tiebreak) — the IDF end of TF-IDF without the float log, so
    the ranking is exact on both engines.  Standard use: routing,
    clustering features, index terms.

    Scale shape: per-doc token dedup is row-local (array_distinct before
    the explode), the document-frequency table is vocabulary-sized —
    orders of magnitude smaller than the corpus — and the final top-k
    is a per-doc window.  Two aggregations + one hash join on the token,
    all partially aggregated map-side."""
    docs = load_table(spark, sf_dir, "documents")
    dtok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(words(F.col("text"), True))).alias("tok"),
    )
    dfreq = dtok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    return (
        dtok.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _N_KEYWORDS)
        .select(
            "doc_id", F.col("rn").cast("int").alias("rank"),
            F.col("tok").alias("keyword"), "df",
        )
    )


# ---------------------------------------------------------------------------
# d38: exact duplicate-substring spans (Lee et al. 2021,
# arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
# Better" — the exact-substring dedup method, re-expressed Spark-first:
# the suffix-array scan becomes a positional k-gram equi-join + a
# gaps-and-islands window, both engine-portable)
# ---------------------------------------------------------------------------
_SPAN_GRAM = 8  # tokens per gram; merged spans cover >= _SPAN_GRAM tokens

# Shared CTE chain: duplicated positional 8-grams -> gaps-and-islands ->
# merged spans.  ONE SQL definition for both the d38 analysis oracle and
# the d39 removal oracle, mirroring _dup_span_islands on the Spark side.
_SPANS_SQL = f"""hits AS (
        SELECT doc_id, i AS pos
        FROM (
            SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_GRAM - 2})) AS i,
                   toks
            FROM (SELECT doc_id,
                         {words_sql("text", True)} AS toks
                  FROM documents)
            WHERE len(toks) >= {_SPAN_GRAM}
        ),
        LATERAL (SELECT md5(array_to_string(toks[i:i+{_SPAN_GRAM - 1}], ' ')) AS gh)
        WHERE gh IN (
            SELECT md5(array_to_string(toks[i:i+{_SPAN_GRAM - 1}], ' ')) AS gh
            FROM (
                SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_GRAM - 2})) AS i,
                       toks
                FROM (SELECT doc_id,
                             {words_sql("text", True)} AS toks
                      FROM documents)
                WHERE len(toks) >= {_SPAN_GRAM}
            )
            GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2
        )
    ),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos - lag(pos) OVER w <= {_SPAN_GRAM} THEN 0 ELSE 1 END AS new_island
        FROM hits
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    islands AS (
        SELECT doc_id, pos,
               SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ),
    dup_spans AS (
        SELECT doc_id,
               MIN(pos) AS span_start,
               MAX(pos) + {_SPAN_GRAM - 1} AS span_end,
               COUNT(*) AS n_dup_grams
        FROM islands
        GROUP BY doc_id, island
    )"""


@query(
    "d38_duplicate_substring_spans",
    oracle=f"""
    WITH {_SPANS_SQL}
    SELECT doc_id,
           CAST(span_start AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end,
           CAST(n_dup_grams AS BIGINT) AS n_dup_grams
    FROM dup_spans
    """,
    survey="dedup-substring",
)
def d38_duplicate_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring spans (the Lee et al. exact-substring
    dedup shape): every maximal token span of a document that is covered
    by word 8-grams occurring in >= 2 distinct documents — what an
    exact-substring memorization-removal pass cuts out, with positions.
    Differs from d19 (grams vs an external benchmark set), d20 (whole
    sentences) and d14 (fingerprint selection): this finds INTERNAL
    corpus duplication at sub-sentence granularity and reports character
    positions-in-tokens, mergeable spans included.

    Scale shape: positional grams hash to fixed-width md5 keys; the
    duplicated-gram set comes from one groupBy (count distinct docs >= 2)
    and meets the positional relation on the hash — never raw text
    across an exchange; span merging is one gaps-and-islands window per
    document (two window functions over one shuffle on doc_id).  A
    100 TB corpus runs this exactly as written with the gram tier as a
    persisted table."""
    return _dup_span_islands(load_table(spark, sf_dir, "documents"))


def _dup_span_islands(docs: DataFrame) -> DataFrame:
    """(doc_id, span_start, span_end, n_dup_grams): the merged duplicate
    -substring span relation — ONE definition shared by d38 (the
    analysis view) and d39 (the removal action that consumes it)."""
    toked = docs.select(
        "doc_id", words(F.col("text"), True).alias("toks")
    ).filter(F.size("toks") >= _SPAN_GRAM)
    refs = ", ".join(f"toks[i+{j - 1}]" for j in range(_SPAN_GRAM))
    grams = toked.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(toks) - {_SPAN_GRAM - 1}),"
                f" i -> concat_ws(' ', {refs}))"
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), F.md5("gram").alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = hits.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(w) <= _SPAN_GRAM, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + _SPAN_GRAM - 1).cast("bigint").alias("span_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_dup_grams"),
    ).drop("island")


# ---------------------------------------------------------------------------
# d39: exact duplicate-substring REMOVAL — the production action over
# d38's span relation (Lee et al. 2021, arXiv:2107.06499: ExactSubstr
# dedup cuts the duplicated spans out of the training text rather than
# dropping whole documents)
# ---------------------------------------------------------------------------


# The token-removal CTEs over dup_spans — toked (all docs, normalized
# token arrays), kept (positions outside every span), agg (clean text +
# kept counts).  ONE definition shared by the d39 oracle and the d41
# composed-build oracle (queries/dedup.py), so the removal semantics
# cannot drift between the stage and the composition.
_CLEAN_SQL = f"""toked AS (
        SELECT doc_id,
               {words_sql("text", True)} AS toks
        FROM documents
    ),
    tokens AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS pos, toks
        FROM toked
    ),
    kept AS (
        SELECT t.doc_id, t.toks[t.pos] AS tok, t.pos
        FROM tokens t
        WHERE NOT EXISTS (
            SELECT 1 FROM dup_spans s
            WHERE s.doc_id = t.doc_id
              AND t.pos BETWEEN s.span_start AND s.span_end
        )
    ),
    clean_agg AS (
        SELECT doc_id,
               string_agg(tok, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )"""


@query(
    "d39_substring_dedup_clean",
    oracle=f"""
    WITH {_SPANS_SQL},
    {_CLEAN_SQL}
    SELECT d.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(len(d.toks) AS BIGINT) AS n_tokens,
           CAST(len(d.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
    FROM toked d
    LEFT JOIN clean_agg a USING (doc_id)
    """,
    survey="dedup-substring",
)
def d39_substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-substring REMOVAL (Lee et al.'s ExactSubstr dedup
    as the production action): every document with the tokens inside
    d38's merged duplicate spans cut out — (doc_id, clean_text,
    n_tokens, n_removed), one row per input document, clean_text in
    normalized token space (lowercased, single-space joined — the form
    the tokenizer downstream consumes).  d38 is the analysis view of
    the span relation; this is what a training-data build actually
    ships, the same analysis/action split as d34 pairs vs d32 groups.

    Scale shape: the span relation is linear-output (merged islands,
    never pair-quadratic), and the removal adds exactly one more
    shuffle: spans groupBy doc_id -> collect_list (bounded per doc by
    n_tokens/{_SPAN_GRAM + 1} spans, row-local data) -> join back to the
    token arrays -> a row-local higher-order filter.  No per-token rows
    cross an exchange; the token relation in the oracle exists only
    DuckDB-side.  A 100 TB corpus runs this with the span tier as a
    persisted table."""
    return substring_dedup_clean(load_table(spark, sf_dir, "documents"))


def substring_dedup_clean(docs: DataFrame) -> DataFrame:
    """Library form of d39 (callable on any (doc_id, text) relation —
    the unit tests drive it on handcrafted corpora): cut every merged
    duplicate span (_dup_span_islands) out of the token stream."""
    spans_per_doc = (
        _dup_span_islands(docs)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("span_start", "span_end")).alias("spans"))
    )
    toked = docs.select(
        "doc_id", words(F.col("text"), True).alias("toks")
    )
    j = toked.join(spans_per_doc, "doc_id", "left").withColumn(
        "kept",
        # coalesce(..., true): docs with no spans (null array) keep all
        # tokens; positions are 1-based to match the span relation
        F.expr(
            "filter(transform(toks, (t, i) -> struct(t AS t, i + 1 AS p)), "
            "s -> coalesce(NOT exists(spans, "
            "sp -> s.p >= sp.span_start AND s.p <= sp.span_end), true))"
        ),
    )
    return j.select(
        "doc_id",
        F.concat_ws(" ", F.expr("transform(kept, s -> s.t)")).alias("clean_text"),
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size("toks") - F.size("kept")).cast("bigint").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# d49: Bloom-filter previous-build membership — the space lever for d27/
# d48's exact fingerprint index.  At 100 TB the exact index is 16 B/doc;
# a Bloom filter is 1-2 BITS/doc at useful false-positive rates, and a
# false positive only re-drops a document the exact path would have kept
# — the safe error direction for dedup admission.
# ---------------------------------------------------------------------------

_BLOOM_BITS = 4096  # m: filter width (2^12 — one 3-hex md5 window per hash)
_BLOOM_K = 3  # k: hash functions, disjoint 3-hex windows of md5(fingerprint)


def bloom_positions(fp_col: F.Column) -> F.Column:
    """array<long> of the _BLOOM_K bit positions for a fingerprint: the
    d-th position is the d-th disjoint 3-hex window of md5(fingerprint)
    mod _BLOOM_BITS — the same engine-portable window-hash construction
    as the CMS rows (queries/sketches.slots_of_md5), so the DuckDB
    oracle replays the positions exactly."""
    h = F.md5(fp_col)
    return F.array(
        *[
            (
                F.conv(F.substring(h, 1 + 3 * d, 3), 16, 10).cast("long")
                % _BLOOM_BITS
            )
            for d in range(_BLOOM_K)
        ]
    )


def _d49_oracle() -> str:
    pos = (
        lambda d: f"CAST(CAST(('0x' || substr(md5(fp), {1 + 3 * d}, 3)) AS UBIGINT)"
        f" AS BIGINT) % {_BLOOM_BITS}"
    )
    pos_list = ", ".join(pos(d) for d in range(_BLOOM_K))
    return f"""
    WITH {_dup_planted_sql("documents")},
    fp AS (
        SELECT doc_id,
               {content_fp_sql("text")} AS fp,
               (doc_id % {_PREV_MOD} = 0) AS is_prev
        FROM planted
    ),
    prev_exact AS (SELECT DISTINCT fp FROM fp WHERE is_prev),
    prev_bits AS (
        SELECT DISTINCT unnest([{pos_list}]) AS bitpos
        FROM fp WHERE is_prev
    ),
    delta_pos AS (
        SELECT doc_id, fp, unnest([{pos_list}]) AS bitpos
        FROM fp WHERE NOT is_prev
    ),
    bloom AS (
        SELECT d.doc_id,
               (COUNT(b.bitpos) = {_BLOOM_K}) AS seen_bloom
        FROM delta_pos d LEFT JOIN prev_bits b ON d.bitpos = b.bitpos
        GROUP BY d.doc_id
    ),
    exact AS (
        SELECT f.doc_id, (p.fp IS NOT NULL) AS seen_exact
        FROM fp f LEFT JOIN prev_exact p ON f.fp = p.fp
        WHERE NOT f.is_prev
    )
    SELECT e.doc_id, e.seen_exact, b.seen_bloom,
           (b.seen_bloom AND NOT e.seen_exact) AS false_positive
    FROM exact e JOIN bloom b USING (doc_id)
"""


@query(
    "d49_bloom_prev_membership",
    oracle=_d49_oracle(),
    survey="dedup-incremental,profile-cms",
)
def d49_bloom_prev_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter previous-build membership, verified against the exact
    index it replaces: every delta document's fingerprint is tested both
    ways and any disagreement is emitted as ``false_positive`` (the only
    possible direction — a Bloom filter has NO false negatives, so
    seen_exact => seen_bloom always; the test pins the implication).

    Construction: m=4096 bits, k=3 positions per key from disjoint 3-hex
    windows of md5(fingerprint) — deterministic, engine-portable, and
    the filter itself is represented RELATIONALLY as the distinct
    (bitpos) rows of the previous build (<= m rows, <= 32 KB — always
    broadcast).  Membership = all k positions present, computed as one
    broadcast join + a count-equals-k aggregate; no bitset type needed
    in either engine.

    Why it matters at 100 TB: d27/d48's exact prev-index is 16 B/doc —
    160 GB for a 10-billion-doc corpus, a real shuffle/broadcast cost
    per refresh.  The Bloom relation is m bits TOTAL (size chosen by
    target FP rate: m/n = 10 bits/key + k=7 gives ~1% FP), and an FP
    only costs re-dropping a duplicate-looking NEW document — dedup
    admission tolerates that direction by design, never the reverse.
    The declared geometry (m=4096, k=3, n~=125 prev docs at sf0.01)
    expects (1-e^(-kn/m))^k ~= 7e-4 FP; the gate pins exact equality of
    the whole verdict relation, so any FP the corpus does produce is in
    the hash-verified output, not averaged away."""
    k = F.col("doc_id")
    planted = _dup_planted(load_table(spark, sf_dir, "documents"))
    fp = planted.select(
        "doc_id",
        content_fp(F.col("text")).alias("fp"),
        (k % _PREV_MOD == 0).alias("is_prev"),
    )
    prev_exact = fp.filter("is_prev").select("fp").distinct()
    prev_bits = (
        fp.filter("is_prev")
        .select(F.explode(bloom_positions(F.col("fp"))).alias("bitpos"))
        .distinct()
    )
    delta = fp.filter(~F.col("is_prev"))
    bloom = (
        delta.select("doc_id", F.explode(bloom_positions(F.col("fp"))).alias("bitpos"))
        .join(
            F.broadcast(prev_bits.withColumn("_hit", F.lit(True))), "bitpos", "left"
        )
        .groupBy("doc_id")
        .agg((F.count("_hit") == _BLOOM_K).alias("seen_bloom"))
    )
    exact = (
        delta.join(prev_exact.withColumn("_pe", F.lit(True)), "fp", "left")
        .select("doc_id", F.coalesce("_pe", F.lit(False)).alias("seen_exact"))
    )
    return exact.join(bloom, "doc_id").select(
        "doc_id",
        "seen_exact",
        "seen_bloom",
        (F.col("seen_bloom") & ~F.col("seen_exact")).alias("false_positive"),
    )
